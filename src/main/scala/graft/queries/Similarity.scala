package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exactness baseline, and a
  * random-hyperplane-LSH bucketed variant as the 100 TB path. All
  * vector math is double-precision left folds over in-row arrays
  * (`zip_with`/`aggregate` — codegen'd, no UDF), so results are
  * bit-reproducible against the oracle's identical fold.
  */
object Similarity {

  private def toDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Caches whose lifetime must outlast the building function (the
    * result is a LAZY plan over them), under the
    * [[graft.core.CacheReleases]] contract.
    */
  private val releases = new graft.core.CacheReleases
  def releaseCaches(): Unit = releases.releaseAll()

  /** Embeddings with the norm precomputed once per vector; cosine in
    * the joins below is then one native `graft_dot` per pair (the
    * codegen'd expression — see VectorExpressions — not an interpreted
    * higher-order fold).
    */
  private def normed(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    // NOT spread (Tables.spread): the norm map is cheap, the s-family
    // measured flat under a spread, and the repartition under the
    // loop-consumed caches (s17's shortlist) broke cache reuse —
    // measured 0.9 s → 2.75 s. Spread only pays where the narrow
    // stage is expensive AND nothing caches above it (cdcOverlap).
    Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_sumsq(v)")))
  }

  /** e09: HARD-negative mining — e08's sibling for contrastive
    * training. Random negatives (e08) are mostly easy; the gradient
    * signal concentrates in negatives NEAR the anchor, so real
    * pipelines mine the most-similar non-duplicates: top-3 by exact
    * cosine among vectors that are not the anchor and not its d07
    * near-dup cluster-mates. The exclusion is the op's point — a
    * near-dup mined as a "hard negative" is a mislabeled POSITIVE,
    * and training on it actively pushes genuine duplicates apart.
    * Exact tier over s01's probe convention (broadcast probes +
    * broadcast pair-graph-sized labels, one corpus scan); the
    * bucketed/quantized ANN tiers (s02–s14) are the scan's scale
    * path and compose identically (s16's shortlist→re-rank shape).
    * Cosines fold in the identical IEEE order both engines (s01
    * discipline) so the hash check is raw, not rounded.
    */
  def e09HardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = normed(s, d)
    val labels = Dedup.d07DupClusters(s, d)
      .select(col("doc_id"), col("cluster_id"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("anchor_id"), col("v").as("pv"),
        col("nrm").as("pnrm"))
    val joined = e.join(broadcast(probes), col("vec_id") =!= col("anchor_id"))
      .join(broadcast(labels.select(col("doc_id").as("anchor_id"),
        col("cluster_id").as("ca"))), Seq("anchor_id"), "left")
      .join(broadcast(labels.select(col("doc_id").as("vec_id"),
        col("cluster_id").as("cb"))), Seq("vec_id"), "left")
      .filter(col("ca").isNull || col("cb").isNull || col("ca") =!= col("cb"))
      .withColumn("cosine", expr("graft_dot(pv, v)") / (col("pnrm") * col("nrm")))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    joined.withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= 3)
      .select(col("anchor_id"), col("neg_rank"),
        col("vec_id").as("neg_id"), col("cosine"))
  }

  /** Brute-force cosine top-5 for a 10-probe set. The probe side is
    * tiny → broadcast; the full scan side streams. At 100 TB this exact
    * tier runs over a candidate subset (see s02); as written it is the
    * recall=1 baseline a pipeline validates its ANN stage against.
    */
  def s01CosineTopK(s: SparkSession, d: String): DataFrame =
    exactProbeTopK(s, d, filtered = false)

  /** The exact-tier body behind s01/s21 — the brute-force column of
    * the same filter matrix the LSH tiers bucket: `filtered` joins
    * the metadata id set into the candidate side before any cosine,
    * exactly as in lshProbeTopK.
    */
  private def exactProbeTopK(s: SparkSession, d: String,
      filtered: Boolean): DataFrame = {
    val e = normed(s, d)
    val cand = if (filtered) e.join(filterIds(s, d), Seq("vec_id")) else e
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    val joined = cand.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", expr("graft_dot(pv, v)") / (col("pnrm") * col("nrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Random-hyperplane LSH bucketing — the ANN scale path. 8
    * deterministic pseudo-random hyperplanes (LCG-derived weights, no
    * RNG at runtime) hash every vector to a 8-bit bucket; search is
    * brute-force WITHIN the probe's bucket only (~1/256 of the data at
    * scale). Approximate by construction: a neighbor in another bucket
    * is missed — that is the documented recall trade; the same
    * deterministic formula is mirrored in the oracle so even the
    * approximation is hash-checked.
    */
  def s02AnnLsh(s: SparkSession, d: String): DataFrame =
    lshProbeTopK(s, d, filtered = false, hamming1 = false)

  /** The ONE probe plan behind the LSH tier matrix — s02 (plain),
    * s22 (filtered), s24 (multiprobe), s26 (both): `filtered` joins
    * the metadata id set into the candidate side BEFORE any cosine
    * (probes themselves never need to pass the predicate — the query
    * vector is external to the searched partition); `hamming1` fans
    * each probe out to its 9-bucket Hamming-1 ball. One body so the
    * four tiers cannot drift in bucketing, tie-breaks, or top-k
    * semantics — mirroring the oracle side, where the same four
    * queries are assembled from one shared bucket CTE and one shared
    * filter CTE.
    */
  private def lshProbeTopK(s: SparkSession, d: String,
      filtered: Boolean, hamming1: Boolean): DataFrame = {
    val e = normed(s, d)
    // Native LshBucket expression (same LCG/double arithmetic as the
    // oracle SQL, see VectorExpressions) — the interpreted 8×64
    // higher-order fold cost ~2.5 s of s02's 2.8 s at sf0.1.
    val bucketed = e.selectExpr("vec_id", "v", "nrm",
      "graft_lsh_bucket(v) AS bucket")
    val cand = if (filtered) bucketed.join(filterIds(s, d), Seq("vec_id"))
      else bucketed
    val home = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("bucket").as("hbucket"))
    val flips = (Seq("hbucket") ++ (0 until 8).map(j => s"hbucket ^ ${1 << j}"))
      .mkString("array(", ", ", ")")
    val probes = (if (hamming1) home.withColumn("pbucket", explode(expr(flips)))
      else home.withColumn("pbucket", col("hbucket"))).drop("hbucket")
    val joined = cand.join(broadcast(probes),
      col("bucket") === col("pbucket") && col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", expr("graft_dot(pv, v)") / (col("pnrm") * col("nrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** IVF-style search: the `label` column plays the coarse quantizer's
    * cell assignment (as in a trained IVF index); centroids are the
    * per-cell means, computed with a vec_id-ordered sequential fold so
    * they are bit-reproducible; probes route to their nearest centroid
    * (nprobe=1) and brute-force only that cell — ~1/10 of the data
    * here, 1/nlist at scale. Recall loss vs s01 is the documented IVF
    * trade. Centroid math runs in `mapGroups` (the one place imperative
    * per-group code is warranted — a deterministic fold Catalyst can't
    * express).
    */
  def s03IvfTopK(s: SparkSession, d: String): DataFrame =
    ivfTopK(s, d, sampledCentroids = false, nprobe = 1)

  /** Shared IVF implementation behind s03/s04 — ONE code path so the
    * centroid fold, routing tie-breaks and top-k semantics cannot
    * silently diverge between the two variants.
    */
  /** The metadata id set behind every filtered search tier (s21 exact,
    * s22/s26 LSH, s28 IVF) — one body so the predicate cannot drift
    * across families (the oracle mirrors it with the one filterCte).
    */
  private[graft] def filterIds(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("lang").isin("de", "fr"))
      .select(col("doc_id").as("vec_id"))

  private def ivfTopK(s: SparkSession, d: String,
      sampledCentroids: Boolean, nprobe: Int,
      filtered: Boolean = false): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = normed(s, d)
    val memberRows = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), toDouble(col("embedding")).as("v"))
    val training = if (sampledCentroids)
      memberRows.filter(
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 3 === 0)
    else memberRows
    val centroids = cellCentroids(s, training)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    // route each probe to its nprobe nearest centroids
    val routed = probes.join(broadcast(centroids), lit(true))
      .withColumn("ccos", expr("graft_dot(pv, cv)") / (col("pnrm") * col("cnrm")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("ccos").desc, col("label"))))
      .filter(col("crk") <= nprobe)
      .select(col("probe_id"), col("pv"), col("pnrm"), col("label").as("cell"))
    val allMembers = memberRows
      .withColumnRenamed("label", "cell")
      .withColumn("nrm", sqrt(expr("graft_sumsq(v)")))
    // the filter restricts the routed cell's MEMBERS, never the
    // routing: probes route on the full centroid geometry (one index
    // serves every predicate), candidates are (cell ∩ predicate)
    val members = if (filtered) allMembers.join(filterIds(s, d), Seq("vec_id"))
      else allMembers
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    members.join(broadcast(routed),
      members("cell") === routed("cell") && col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", expr("graft_dot(pv, v)") / (col("pnrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Per-cell mean vectors with a vec_id-ordered sequential fold, so
    * the centroids are bit-reproducible against the oracle's identical
    * `list_reduce` fold. Shared by the IVF index builds (s03/s04), the
    * k-means rounds (s06/s07/s08) and e01's cluster stats.
    *
    * Bounded task memory on EVERY path: `flatMapSortedGroups` hands the
    * group iterator already vec_id-ordered (Spark sorts within the
    * exchange partitions — spillable sort, not a per-group buffer), and
    * the fold keeps only the 64 running sums + a count. A cell of any
    * size streams through in O(1) task memory — the mr02 secondary-sort
    * idiom applied to centroids; the fold order is identical to the
    * previous sort-then-sum, so results are bit-unchanged.
    */
  private[queries] def cellCentroids(s: SparkSession, training: DataFrame): DataFrame = {
    import s.implicits._
    graft.functions.VectorExpressions.register(s)
    training
      .as[(Int, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("vec_id").asc) { (label, it) =>
        val sums = new Array[Double](64); var n = 0L
        it.foreach { r =>
          val v = r._3; var k = 0
          while (k < 64) { sums(k) += v(k); k += 1 }
          n += 1
        }
        Iterator.single((label, sums.map(_ / n).toSeq))
      }
      .toDF("label", "cv")
      .withColumn("cnrm", sqrt(expr("graft_sumsq(cv)")))
  }

  /** IVF with SAMPLED centroid training and nprobe = 2 — the two
    * knobs that make s03 production-shaped at 100 TB:
    *
    *   - centroids train on a deterministic md5-hash sample (~1/3) of
    *     each cell (the q37 reproducible-sampling idiom), so the
    *     `mapGroups` fold materializes only the sample — bounded task
    *     memory however large a cell grows — and the training scan
    *     reads a fraction of the data;
    *   - each probe searches its TWO nearest cells (`crk <= 2`), the
    *     standard recall repair for quantization edge effects; the
    *     final top-5 ranks across both cells' candidates.
    *
    * Sampling, routing, and scoring are all mirrored exactly in the
    * oracle, so the approximation itself stays hash-checked.
    */
  def s04IvfNprobe2(s: SparkSession, d: String): DataFrame =
    ivfTopK(s, d, sampledCentroids = true, nprobe = 2)

  /** ANN quality evaluation: recall@5 of the LSH path (s02) against
    * the exact baseline (s01) — the metric an ANN deployment monitors
    * before trusting the approximate tier. Both tiers are
    * deterministic in both engines, so the recall VALUE itself is
    * oracle-checked, not just its existence. One broadcast-sized join
    * of two top-k lists; at 100 TB this runs over a probe sample.
    */
  def s05AnnRecall(s: SparkSession, d: String): DataFrame =
    recallAt5(s01CosineTopK(s, d), s02AnnLsh(s, d))

  /** The one recall-gate body behind s05/s23/s25/s27 (and the
    * measurement shape s12/s20 specialize): |ann ∩ exact| / |exact|
    * over (probe_id, neighbor_id) pairs — ONE implementation so the
    * four cells of the (filter × probe-width) recall matrix are
    * measured identically and differ only in their inputs.
    */
  private def recallAt5(exactDf: DataFrame, annDf: DataFrame): DataFrame = {
    val exact = exactDf.select(col("probe_id"), col("neighbor_id"))
    val ann = annDf
      .select(col("probe_id").as("p2"), col("neighbor_id").as("n2"))
    val hits = exact.join(ann,
        col("probe_id") === col("p2") && col("neighbor_id") === col("n2"))
      .agg(count(lit(1)).as("n_hits"))
    val total = exact.agg(count(lit(1)).as("n_exact"))
    hits.crossJoin(total)
      .select(col("n_hits"), col("n_exact"),
        (col("n_hits").cast("double") / col("n_exact").cast("double")).as("recall_at_5"))
  }

  /** One Lloyd (k-means) refinement round over the IVF coarse
    * quantizer — the deferred "centroid iteration" step: score EVERY
    * vector against every current centroid (broadcast — k rows), keep
    * its argmax-cosine cell, and report the new cell occupancy plus
    * how many vectors migrated. Counts only — the refinement's effect
    * is fully hash-checkable with no float-rounding hazard (the
    * reassignment itself is deterministic: cosines are identical
    * sequential folds in both engines, ties broken by cell id).
    *
    * Scale shape: centroids broadcast (k×64 doubles); scoring is a
    * narrow flatMap (k skinny rows per vector); the argmax is one
    * partial-window pass over vec_id — at 100 TB the same loop is the
    * standard distributed Lloyd iteration, converging centroids via
    * the cellCentroids fold over the NEW assignment each round.
    */
  def s06KmeansRefine(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val memberRows = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_sumsq(v)")))
    occupancy(reassign(s, memberRows))
  }

  /** One Lloyd half-step: rebuild centroids from the current
    * assignment (`label`), then give every vector its argmax-cosine
    * cell. In: (label, vec_id, v, nrm); out: the same rows with `cell`
    * = new assignment and `prev` = the assignment it replaced.
    */
  private def reassign(s: SparkSession, df: DataFrame): DataFrame = {
    val cent = cellCentroids(s, df.select(col("label"), col("vec_id"), col("v")))
      .withColumnRenamed("label", "cell")
    // argmax via partial-aggable max_by, not a window: the window form
    // shuffled AND sorted vectors×cells scored rows per round; max_by
    // combines map-side to one row per vector and needs no sort. The
    // (ccos, -cell) ordering struct reproduces the window's
    // (ccos DESC, cell ASC) tie-break exactly, so results are
    // bit-identical. v/nrm/label are constant within a vec_id group —
    // first() is deterministic here.
    df.join(broadcast(cent), lit(true))
      .withColumn("ccos", expr("graft_dot(v, cv)") / (col("nrm") * col("cnrm")))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cell"), struct(col("ccos"), (-col("cell")).as("nc"))).as("cell"),
        first(col("label")).as("prev"),
        first(col("v")).as("v"),
        first(col("nrm")).as("nrm"))
      .select(col("cell"), col("prev"), col("vec_id"), col("v"), col("nrm"))
  }

  private def occupancy(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("prev") =!= col("cell"), 1L).otherwise(0L)).as("n_moved_in"))

  /** TWO chained Lloyd rounds — the convergence loop itself: round 2's
    * centroids are rebuilt from round 1's NEW assignment (not the
    * stored labels), so this exercises exactly the state handoff a
    * full k-means-to-convergence runs per iteration. The round-1
    * assignment is cached — each round at 100 TB persists its
    * assignment before the next centroid build, keeping lineage flat.
    * Output is round 2's occupancy and migration counts.
    */
  def s07KmeansConverge(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val memberRows = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_sumsq(v)")))
    // cached: r1 feeds both round 2's centroid build and its scoring
    // join; Bench/Verify clear query-internal caches post-execution
    val r1 = reassign(s, memberRows)
      .select(col("cell").as("label"), col("vec_id"), col("v"), col("nrm"))
      .cache()
    occupancy(reassign(s, r1))
  }

  /** k-means run TO CONVERGENCE, in the aggregate-broadcast shape
    * MLlib's KMeans uses (and the shape a 1000-executor run wants) —
    * NOT s06/s07's join+regroup round: the ≤k centroids are COLLECTED
    * to the driver each round and shipped back as one broadcast row,
    * assignment is a pure per-row expression (argmax cosine over the
    * centroid array — k fused dot products, no join), and the next
    * centroids come from one partial-aggable (cell, dim) aggregation.
    * Three consequences, each load-bearing:
    *
    *  - vectors NEVER shuffle: the only exchange per round carries
    *    the ncells×dims (sum, count) partials (~640 rows), map-side
    *    combined out of every partition;
    *  - rounds depend on each other ONLY through the collected
    *    centroid row, so the plan rebuilt each round has CONSTANT
    *    depth over the cached base — the lineage-doubling and
    *    stats-squaring pathologies the join-shaped loop fought with
    *    per-round checkpoints (still the right tool for the CC loop,
    *    whose per-round STATE is a full table — Dedup.scala) cannot
    *    arise here, and no checkpoint is needed at all;
    *  - ONE job per round: the migration tally rides the round's
    *    aggregation as an observed metric, and the convergence
    *    contract is read off the final round's driver-side centroid
    *    partials — no closing aggregate job.
    *
    * Measured at sf0.1 (22 rounds, warm JVM): 3.6 s vs 7.3 s for the
    * join+regroup loop this replaces. The round-(k−1) assignment the
    * tally needs is RECOMPUTED from the previous centroid row (2k dot
    * products/row in total) — cheaper than persisting per-row state.
    *
    * Stopping criterion unchanged: zero migrations — the assignment
    * is a fixed point (stronger than a centroid-movement epsilon, and
    * exactly checkable); non-convergence within the cap fails LOUDLY.
    * The oracle-visible output is the CONTRACT (q17's pattern):
    * convergence reached, final migration count (0 by definition of
    * the fixed point), cell count within k, and the exact total
    * membership — the loop's data-dependent round count can't be
    * replayed in one SQL statement, so the spec additionally pins
    * rounds ∈ [1, cap] via the internal entry point.
    */
  def s08KmeansFull(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val memberRows = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_sumsq(v)")))
    kmeansToConvergence(s, memberRows, maxRounds = 30)._1
  }

  /** The Lloyd loop behind s08; returns (contract row, rounds run).
    * Package-visible so the spec can assert the round count is bounded
    * and ≥ 1 without re-running the loop logic.
    */
  private[graft] def kmeansToConvergence(s: SparkSession, init: DataFrame,
      maxRounds: Int): (DataFrame, Int) = {
    import s.implicits._
    graft.functions.VectorExpressions.register(s)
    // cached once; every round re-scans exactly this frame
    val ev = init.select(col("label").cast("int").as("label"),
      col("vec_id"), col("v"), col("nrm")).cache()
    // (cell, dim) -> (sum, count) partials folded to driver-side mean
    // vectors with their norms; dims inferred from the partials
    def centsFrom(rows: Array[org.apache.spark.sql.Row]): Seq[(Int, Seq[Double], Double)] =
      rows.groupBy(_.getInt(0)).map { case (c, rs) =>
        val arr = new Array[Double](rs.map(_.getInt(1)).max + 1)
        rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
        (c, arr.toSeq, math.sqrt(arr.map(x => x * x).sum))
      }.toSeq.sortBy(_._1)
    // assignment as a pure expression over the broadcast centroid row:
    // argmax cosine with the (ccos, -cell) tie-break reassign() uses —
    // struct ordering in array_max reproduces it exactly
    val amax = "CAST(-array_max(transform(%s, c -> struct(" +
      "graft_dot(v, c._2) / (nrm * c._3) AS ccos, -c._1 AS nc))).nc AS INT)"
    // initial centroids from the stored assignment (one aggregation)
    var cents = centsFrom(ev
      .select(col("label").as("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n")).collect())
    var prev: Seq[(Int, Seq[Double], Double)] = null
    var last: Array[org.apache.spark.sql.Row] = null
    var moved = -1L
    var rounds = 0
    while (moved != 0 && rounds < maxRounds) {
      // ONE job: assign via the carr argmax, tally migrations against
      // the previous assignment (recomputed from parr; round 1 uses
      // the stored labels) as an observed metric, and aggregate the
      // next round's centroid partials
      val cr = Seq((cents, if (prev == null) cents else prev)).toDF("carr", "parr")
      val prevCol = if (prev == null) col("label") else expr(amax.format("parr"))
      val obs = org.apache.spark.sql.Observation(
        s"kmeans_r${rounds}_${System.nanoTime()}")
      val rows = ev.crossJoin(broadcast(cr))
        .select(expr(amax.format("carr")).as("cell"), prevCol.as("prev"), col("v"))
        .observe(obs, coalesce(sum(when(col("cell") =!= col("prev"), 1L)
          .otherwise(0L)), lit(0L)).as("moved"))
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      moved = obs.get("moved").asInstanceOf[Long]
      prev = cents
      cents = centsFrom(rows)
      last = rows
      rounds += 1
    }
    if (moved != 0) throw new IllegalStateException(
      s"k-means did not converge in $rounds rounds")
    // the contract is read off the FINAL round's partials — ncells =
    // occupied cells, membership = sum of dim-0 counts; no extra job
    val ncells = last.map(_.getInt(0)).distinct.length
    val total = last.filter(_.getInt(1) == 0).map(_.getLong(3)).sum
    ev.unpersist(blocking = false)
    val contract = Seq((true, 0L, ncells <= 10, total))
      .toDF("converged", "final_moves", "cells_le_k", "total_members")
    (contract, rounds)
  }

  /** Dimensionality-reduced ANN via signed random projection
    * (Johnson-Lindenstrauss): project 64 → 16 dims with a
    * deterministic ±1 matrix (native `graft_rproj`, one pass per
    * vector), then brute-force cosine top-5 in the REDUCED space —
    * the third ANN family next to bucketing (s02) and coarse
    * quantization (s03/s04). The projection is computed once per
    * vector and is 4× smaller than the original: at 100 TB the
    * reduced vectors are the columnar index you scan (a quarter of
    * the I/O and FLOPs per probe), with JL guaranteeing bounded
    * distance distortion. The reduced-space ranking itself is
    * oracle-checked — both engines run the identical integer LCG and
    * k-ascending double fold, so even the approximation error is
    * reproduced bit-for-bit.
    */
  def s09RandomProjAnn(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .select(col("vec_id"), expr("graft_rproj(v)").as("r"))
      .withColumn("rnrm", sqrt(expr("graft_sumsq(r)")))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("r").as("pr"), col("rnrm").as("pnrm"))
    val joined = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("rcos", expr("graft_dot(pr, r)") / (col("pnrm") * col("rnrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("rcos").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("rcos"))
  }

  /** TWO-STAGE retrieval — coarse shortlist in the JL-reduced space,
    * exact re-rank with the full vectors: the production ANN serving
    * shape (every deployed IVF/PQ/HNSW system re-ranks a compressed
    * shortlist with exact distances). Stage 1 is s09's quarter-cost
    * reduced-space scan widened to top-50; stage 2 exact-scores only
    * |probes|×50 candidate rows. Recall dominance over s09 is
    * STRUCTURAL, not statistical: a true top-5 neighbor that reaches
    * the shortlist is beaten by at most 4 others corpus-wide, so the
    * exact re-rank necessarily keeps it in its top-5 — per-probe
    * hits(s16) ⊇ hits(s09), spec-asserted. On the s12 board this is
    * the tier that closes the compression-axis recall gap while doing
    * full-vector work on 50 rows per probe instead of the corpus.
    *
    * Scale shape: stage 1 = s09's audited plan (the 4×-smaller reduced
    * vectors are the scanned index — at 100 TB a precomputed column —
    * probes broadcast, WindowGroupLimit caps the shortlist per task);
    * the shortlist (|probes|×50 rows) then broadcasts BACK against the
    * full-vector scan — the big table streams once through a broadcast
    * hash join that keeps only candidate rows, no shuffle, no second
    * ranking pass over the corpus.
    */
  def s16RerankAnn(s: SparkSession, d: String): DataFrame = {
    val e = normed(s, d)
    val red = e.select(col("vec_id"), expr("graft_rproj(v)").as("r"))
      .withColumn("rnrm", sqrt(expr("graft_sumsq(r)")))
    val probesR = red.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("r").as("pr"), col("rnrm").as("prnrm"))
    val wc = Window.partitionBy(col("probe_id"))
      .orderBy(col("rcos").desc, col("vec_id"))
    val shortlist = red.join(broadcast(probesR), col("vec_id") =!= col("probe_id"))
      .withColumn("rcos", expr("graft_dot(pr, r)") / (col("prnrm") * col("rnrm")))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= 50)
      .select(col("probe_id"), col("vec_id"))
    val probesF = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    val rer = e.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(probesF), Seq("probe_id"))
      .withColumn("cosine", expr("graft_dot(pv, v)") / (col("pnrm") * col("nrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Scalar-quantized ANN — the index-COMPRESSION axis (s02 prunes
    * candidates, s03/s04 prune cells, s09 prunes dimensions; SQ
    * shrinks BYTES): per-dimension corpus min/max train an 8-bit
    * uniform quantizer, vectors become 64 byte codes (4× smaller than
    * float32, 8× smaller than the double working form), and search
    * ranks DEQUANTIZED reconstructions. At 100 TB the code table is
    * what lives in memory/SSD; the trade is reconstruction error, and
    * — like every approximation tier here — the quantized ranking
    * itself is oracle-checked bit-for-bit: both engines run the same
    * shift/scale/floor and midpoint-decode arithmetic in the same
    * order, so even the error is reproduced exactly.
    *
    * Scale shape: the stats pass is one partial-aggable (dim) agg; the
    * 128-double stats row broadcasts; quantize/decode are narrow
    * in-row transforms; the search is s01's broadcast-probe scan over
    * reconstructions.
    */
  def s10SqAnn(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val stats = e.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(dim, mn))), p -> p.mn)").as("mns"),
        expr("transform(array_sort(collect_list(struct(dim, mx))), p -> p.mx)").as("mxs"))
    // fused native quantize→dequantize (SqDequantize): one pass per
    // vector, same arithmetic order as the oracle; the interpreted
    // 2×64-lambda transform form cost ~2 s of s10's 2.8 s at sf0.1
    val coded = e.crossJoin(broadcast(stats))
      .withColumn("dq", expr("graft_sq_dequantize(v, mns, mxs)"))
      .select(col("vec_id"), col("dq"))
      .withColumn("qnrm", sqrt(expr("graft_sumsq(dq)")))
    val probes = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("dq").as("pdq"), col("qnrm").as("pnrm"))
    val joined = coded.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("qcos", expr("graft_dot(pdq, dq)") / (col("pnrm") * col("qnrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("qcos").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("qcos"))
  }

  /** PRODUCT-QUANTIZED ANN — the codebook-compression axis, completing
    * the ANN tiers: bucketing (s02), coarse routing (s03/s04),
    * dimension reduction (s09), per-dim scalar codes (s10), and here
    * per-SUBSPACE vector codes: 8 subspaces × 16 codewords, so a
    * vector stores as 8 four-bit codes (8 bytes, 64× smaller than raw
    * doubles — PQ is how billion-scale indexes fit in RAM). The
    * codebook is the 16 md5-lowest vectors (deterministic sampled
    * init, SQL-mirrorable at every sf; Lloyd refinement per subspace
    * is s06's loop verbatim and deliberately not repeated here — the
    * search path, not training, is what this tier adds). Encode→decode
    * is one fused native pass (PqReconstruct; ties to the lowest
    * codeword, mirrored by the oracle's ORDER BY d2, j); search is
    * ASYMMETRIC (ADC): probes stay exact, the corpus side is
    * reconstructed — the standard PQ search contract. The quantized
    * ranking, error included, is oracle-checked bit-for-bit.
    *
    * Scale shape: codebook selection is a distributed top-16
    * (TakeOrderedAndProject, no global sort — at 100 TB train on a
    * q37 hash-sample first), the 1,024-double codebook broadcasts,
    * encode is narrow and in-row, and the search is s01's
    * broadcast-probe scan over reconstructions.
    */
  /** s11/s13's shared deterministic codebook init: the 16 md5-lowest
    * vectors, flattened to a 1,024-double row in (h, vec_id) order —
    * ONE code path so the sampled init cannot diverge between the
    * search tier and the refinement.
    */
  private[graft] def pqCodebook(e: DataFrame): DataFrame = e
    .withColumn("h",
      conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long"))
    .orderBy(col("h"), col("vec_id")).limit(16)
    .agg(expr(
      "flatten(transform(array_sort(collect_list(struct(h, vec_id, v))), p -> p.v))")
      .as("cb"))

  /** The shared ADC search tail of s11/s13: encode→decode the corpus
    * against a (possibly refined) codebook, rank probe-exact cosines.
    */
  private def pqSearch(e: DataFrame, cb: DataFrame): DataFrame = {
    val coded = e.crossJoin(broadcast(cb))
      .withColumn("dq", expr("graft_pq_reconstruct(v, cb)"))
      .select(col("vec_id"), col("v"), col("dq"))
      .withColumn("qnrm", sqrt(expr("graft_sumsq(dq)")))
    val probes = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      .withColumn("pnrm", sqrt(expr("graft_sumsq(pv)")))
    val joined = coded.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("qcos", expr("graft_dot(pv, dq)") / (col("pnrm") * col("qnrm")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("qcos").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("qcos"))
  }

  def s11PqAnn(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    pqSearch(e, pqCodebook(e))
  }

  /** s11 with ONE per-subspace Lloyd round over the codebook — the PQ
    * TRAINING step the sampled init deliberately deferred (s12
    * measured that init at recall 0.14; training is what a production
    * PQ index does before serving). Per subspace s: every vector's
    * 8-dim slice is assigned to its nearest codeword slice (the same
    * i-ascending (v−c)² fold and lowest-j tie-break as
    * PqReconstruct's encode, so assignment == what the search would
    * do), then each (subspace, codeword) cell's slice is re-centered
    * to the MEAN of its members — computed with the vec_id-ordered
    * sequential fold (cellCentroids' discipline) so the refined
    * codebook is bit-reproducible against the oracle's identical
    * `list(... ORDER BY vec_id)` fold. Codewords left empty in a
    * subspace keep their init slice (the coalesce mirrors the
    * oracle's LEFT JOIN). Search then reruns s11's ADC tail against
    * the refined codebook; s12's gate measures the recall gain.
    *
    * Scale shape: assignment explodes 16 codewords × 8 subspaces per
    * vector — the TRAINING path, run over a q37 hash-sample at 100 TB
    * (exactly like s04's sampled centroids); the refined 1,024-double
    * codebook broadcasts and the serving path (encode + ADC scan) is
    * s11's unchanged.
    */
  def s13PqRefined(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    pqSearch(e, pqRefinedCodebook(s, e))
  }

  /** One Lloyd round over [[pqCodebook]]'s init — package-visible so
    * the spec can assert the round's actual guarantee: total squared
    * reconstruction error is non-increasing (both Lloyd half-steps
    * only ever lower it). Recall@5 is measured by s12 but NOT
    * guaranteed to rise — on these isotropic synthetic embeddings the
    * exact top-5 are near-ties and one round measured 0.14 → 0.12 at
    * sf0.1: noise, not signal; distortion is the trained quantity.
    */
  private[graft] def pqRefinedCodebook(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    val cb0 = pqCodebook(e)
    // 16 codeword rows (j, cw[64]) from the flat init row
    val cwj = cb0.select(posexplode(
        expr("transform(sequence(0, 15), j -> slice(cb, j * 64 + 1, 64))"))
      .as(Seq("j", "cw")))
    // assignment: argmin_j of the subspace L2, ties to lowest j —
    // PqReconstruct's encode arithmetic, declaratively
    val codes = e.crossJoin(broadcast(cwj))
      .select(col("vec_id"), col("v"), col("j"), col("cw"),
        explode(sequence(lit(0), lit(7))).as("s"))
      .withColumn("d2", expr(
        """aggregate(sequence(1, 8), cast(0.0 AS double), (acc, i) ->
           acc + (element_at(v, s * 8 + i) - element_at(cw, s * 8 + i))
               * (element_at(v, s * 8 + i) - element_at(cw, s * 8 + i)))"""))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(col("j"), struct(col("d2"), col("j"))).as("j"))
    // re-center each (subspace, codeword) cell: vec_id-ordered fold
    val means = codes.join(e, "vec_id")
      .select(col("s"), col("j"), col("vec_id"),
        expr("slice(v, s * 8 + 1, 8)").as("sv"))
      .as[(Int, Int, Long, Seq[Double])]
      .groupByKey(r => (r._1, r._2))
      .flatMapSortedGroups(col("vec_id").asc) { (k, it) =>
        val sums = new Array[Double](8); var n = 0L
        it.foreach { r =>
          val v = r._4; var i = 0
          while (i < 8) { sums(i) += v(i); i += 1 }
          n += 1
        }
        Iterator.single((k._1, k._2, sums.map(_ / n).toSeq))
      }
      .toDF("s", "j", "m")
    val refined = means
      .select(col("s"), col("j"), posexplode(col("m")).as(Seq("i", "mv")))
      .select((col("j") * 64 + col("s") * 8 + col("i")).as("idx"), col("mv"))
    val newCb = cwj
      .select(col("j"), posexplode(col("cw")).as(Seq("k", "ov")))
      .select((col("j") * 64 + col("k")).as("idx"), col("ov"))
      .join(refined, Seq("idx"), "left")
      .agg(expr(
        "transform(array_sort(collect_list(struct(idx, coalesce(mv, ov) AS val))), p -> p.val)")
        .as("cb"))
    newCb
  }

  /** IVF-PQ — the two quantizers COMPOSED, which is how a
    * billion-scale ANN index actually ships (FAISS's IVFPQ): the
    * coarse quantizer (s03's per-cell centroids) routes each probe to
    * its nearest cell, and within the cell the corpus side is scored
    * from PQ codes over RESIDUALS (vector − its cell centroid) — the
    * residual trick is what makes 16 codewords per subspace usable:
    * residuals concentrate near zero, so the codebook spends its
    * precision where the data is. The PQ codebook is s11's
    * deterministic md5-sampled init built over residual vectors;
    * reconstruction = centroid + decoded residual; search is
    * asymmetric (exact probe vs reconstructed corpus — s11's ADC
    * contract). Every stage is an existing audited tier's design;
    * every fold is mirrored in the oracle, so the composed ranking is
    * hash-checked bit-for-bit.
    *
    * Scale shape: centroids and the 1,024-double codebook broadcast;
    * encode is narrow and in-row; each probe scans ONE cell's
    * reconstructions (1/nlist of the corpus) — compression × routing,
    * the economics that fit a 100 TB corpus's index in serving memory.
    * s12's gate measures recall@5 = 0.04 here: nprobe=1 routing over
    * ISOTROPIC synthetic embeddings drops cross-cell near-ties (the
    * s03 trade compounded with PQ error) — on real clustered
    * embeddings the cells capture neighborhoods; the knobs are nprobe
    * (s04) and codebook training (s13), both already built.
    */
  def s14IvfPqAnn(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val memberRows = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), toDouble(col("embedding")).as("v"))
    val cent = cellCentroids(s, memberRows)
    val resid = memberRows.join(broadcast(cent.withColumnRenamed("cnrm", "_cn")),
        "label")
      .select(col("label"), col("vec_id"), col("v"),
        expr("zip_with(v, cv, (a, b) -> a - b)").as("r"), col("cv"))
    val cb = pqCodebook(resid.select(col("vec_id"), col("r").as("v")))
    val recon = resid.crossJoin(broadcast(cb))
      .withColumn("dq",
        expr("zip_with(cv, graft_pq_reconstruct(r, cb), (a, b) -> a + b)"))
      .select(col("label").as("cell"), col("vec_id"), col("dq"))
      .withColumn("qnrm", sqrt(expr("graft_sumsq(dq)")))
    val probes = memberRows.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"))
      .withColumn("pnrm", sqrt(expr("graft_sumsq(pv)")))
    val routed = probes.join(broadcast(cent), lit(true))
      .withColumn("ccos", expr("graft_dot(pv, cv)") / (col("pnrm") * col("cnrm")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("ccos").desc, col("label"))))
      .filter(col("crk") === 1)
      .select(col("probe_id"), col("pv"), col("pnrm"), col("label").as("cell"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("qcos").desc, col("vec_id"))
    recon.join(broadcast(routed),
        recon("cell") === routed("cell") && col("vec_id") =!= col("probe_id"))
      .withColumn("qcos", expr("graft_dot(pv, dq)") / (col("pnrm") * col("qnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), col("qcos"))
  }

  /** Greedy k-center (farthest-point / Gonzalez 1985) DIVERSITY SAMPLE
    * over the embedding corpus — the curation step that follows dedup
    * in a training-data pipeline: pick k documents maximizing pairwise
    * spread (the greedy traversal is a 2-approximation to the optimal
    * k-center cover), e.g. few-shot exemplar or eval-seed selection
    * over a deduplicated pool. Cosine distance (1 − cos), seed = the
    * smallest vec_id, max-min ties break to the smaller vec_id — fully
    * deterministic, so the selection ORDER and each round's coverage
    * gap (the max-min distance that forced the pick) are hash-checked
    * against an unrolled CTE replay of the whole loop.
    *
    * Loop shape — k sequential jobs, each ONE narrow scan: round r
    * carries the r selected centers as a single ARRAY literal (the
    * selected set IS the model, k×64 doubles of plan state by
    * definition, exactly like broadcast centroids), scores
    * dmin = array_min(transform(sels, ...)) in-row — s17's idiom, a
    * CONSTANT-node-count expression whatever r is (see
    * [[kcenterRound]]; the earlier least-of-r column chain grew the
    * plan and recompiled it every round) — and takes the argmax with
    * one partial-aggable max_by over a (dmin, −vec_id) struct: no
    * shuffle beyond the 1-row partial merge, no per-round checkpoint,
    * lineage flat BY CONSTRUCTION because every round re-derives from
    * the cached (vec_id, v, nrm) projection, never from the previous
    * round's frame (contrast the kmeans loop, whose per-round state
    * is a full assignment TABLE and must be checkpointed; here
    * per-round state is one row). min over doubles is
    * associative-exact, so the stateless min-of-r recompute equals
    * the oracle chain's incremental update — asserted bit-for-bit by
    * the randomized spec against a brute-force greedy twin (k = 8 and
    * k = 64).
    *
    * At 100 TB: k embarrassingly parallel passes over a cached
    * columnar (vec_id, v, nrm) projection, each returning one row —
    * the same sequential-rounds floor as Lloyd (s08) with NO per-round
    * materialization to pay for, and per-round codegen cost constant
    * in k. If k grows to where the in-row min-of-k dominates a scan
    * (k ≳ hundreds), switch to a persisted incremental dmin column
    * with the kmeans loop's checkpoint discipline — same answers, and
    * the spec's brute-force twin is the contract either way.
    */
  def s15KcenterSample(s: SparkSession, d: String): DataFrame =
    kcenterSelect(normed(s, d), k = 8)

  /** The greedy loop behind s15 over any (vec_id, v, nrm) frame —
    * package-visible so the spec can prove greedy == brute-force on
    * randomized synthetic corpora (including an exact-duplicate
    * point, the dmin ≈ 0 tie case).
    */
  private[graft] def kcenterSelect(e: DataFrame, k: Int): DataFrame = {
    val s = e.sparkSession
    graft.functions.VectorExpressions.register(s)
    import s.implicits._
    val ev = e.select(col("vec_id"), col("v"), col("nrm")).cache()
    val seed = ev.orderBy(col("vec_id")).limit(1).head()
    var selIds: List[Long] = List(seed.getLong(0))
    var sels: List[(Seq[Double], Double)] =
      List((seed.getSeq[Double](1), seed.getDouble(2)))
    var out: List[(Long, Long, Double)] = List((0L, seed.getLong(0), 0.0))
    for (r <- 1 until k) {
      val far = kcenterRound(ev, selIds, sels).head().getStruct(0)
      out = (r.toLong, far.getLong(0), far.getDouble(1)) :: out
      selIds = far.getLong(0) :: selIds
      sels = (far.getSeq[Double](2), far.getDouble(3)) :: sels
    }
    // the output is a k-row literal frame — no lineage on ev, release now
    ev.unpersist(blocking = false)
    out.reverse.toDF("sel_rank", "vec_id", "gap")
  }

  /** ONE greedy round's plan over the current selected-center state —
    * the state rides in as two ARRAY literals (ids; (v, nrm) structs),
    * so the expression tree is a fixed
    * array_contains + array_min(transform(...)) + max_by shape whose
    * NODE COUNT is constant in k (only the literal payloads grow):
    * no per-round plan growth, no recompilation blow-up at k = 1000.
    * Package-visible so the spec can assert plan size at |sel| = 1
    * equals plan size at |sel| = 63. Per-element arithmetic
    * (1.0 − dot/(nrm·snrm), then min) is the previous least-of-
    * columns chain's exact op order, so results are bit-unchanged.
    */
  private[graft] def kcenterRound(ev: DataFrame,
      selIds: Seq[Long], sels: Seq[(Seq[Double], Double)]): DataFrame =
    ev.filter(!array_contains(typedLit(selIds), col("vec_id")))
      .withColumn("sels", typedLit(sels))
      .withColumn("dmin", expr(
        "array_min(transform(sels, x -> 1.0D - graft_dot(v, x._1) / (nrm * x._2)))"))
      .agg(max_by(
        struct(col("vec_id"), col("dmin"), col("v"), col("nrm")),
        struct(col("dmin"), (-col("vec_id")).as("nid"))).as("far"))

  /** Recall@5 for EVERY approximate ANN tier — s05's gate extended
    * into the single recall board an ANN deployment reads: the
    * bucketing axis — s02 (hyperplane LSH), s03 (IVF nprobe=1), s04
    * (IVF sampled-train nprobe=2) — and the compression axis — s09
    * (JL projection), s10 (scalar quantization), s11 (PQ
    * sampled-init), s13 (PQ Lloyd-refined), s14 (IVF-PQ) — each
    * — plus the SERVING shape, s16 (coarse shortlist + exact re-rank),
    * whose recall dominates s09's structurally — each measured against
    * s01's exact ranking. Adding a tier means adding it to the `tiers`
    * seq below AND the oracle's UNION/VALUES lists. This is the number a PQ/SQ deployment decision is made
    * on — an approximation tier without a recall gate is an
    * unmonitored loss. One row per tier; every tier is deterministic
    * in both engines, so the recall VALUES are hash-checked, not just
    * produced (tiers that lose a probe entirely still appear, via the
    * literal tier list). Join shape is s05's: top-k lists are
    * probe-sample-sized → broadcast-joined; at 100 TB the gate runs
    * over a probe sample exactly like s05.
    */
  def s12QuantRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val exact = s01CosineTopK(s, d).select(col("probe_id"), col("neighbor_id"))
    val tiers: Seq[(String, DataFrame)] = Seq(
      "s02_lsh" -> s02AnnLsh(s, d),
      "s03_ivf1" -> s03IvfTopK(s, d),
      "s04_ivf2" -> s04IvfNprobe2(s, d),
      "s09_rproj" -> s09RandomProjAnn(s, d),
      "s10_sq" -> s10SqAnn(s, d),
      "s11_pq" -> s11PqAnn(s, d),
      "s13_pq_refined" -> s13PqRefined(s, d),
      "s14_ivfpq" -> s14IvfPqAnn(s, d),
      "s16_rerank" -> s16RerankAnn(s, d))
    val ann = tiers.map { case (n, df) =>
        df.select(lit(n).as("tier"), col("probe_id"), col("neighbor_id")) }
      .reduce(_ unionByName _)
    val hits = exact.join(ann, Seq("probe_id", "neighbor_id"))
      .groupBy(col("tier")).agg(count(lit(1)).as("hits"))
    val total = exact.agg(count(lit(1)).as("n_exact"))
    tiers.map(_._1).toDF("tier")
      .join(hits, Seq("tier"), "left")
      .crossJoin(total)
      .select(col("tier"), coalesce(col("hits"), lit(0L)).as("n_hits"),
        col("n_exact"),
        (coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("recall_at_5"))
  }

  /** MMR (maximal-marginal-relevance) diversity re-rank — the serving
    * stage AFTER the ANN shortlist: from each probe's exact top-20,
    * greedily pick 5 results maximizing
    * λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s) with λ = 0.7 — the
    * classic Carbonell–Goldstein objective that stops five
    * near-duplicates of the best hit from filling the page. Greedy
    * selection is inherently sequential in rank, so the loop shape is
    * s15's — but where s15's state is global, here every round picks
    * ONE winner PER PROBE in a single partial-aggable `max_by`
    * aggregation, so all probes advance in parallel and the round
    * count is the OUTPUT size k = 5, independent of probe count.
    * Selection state NEVER touches the driver: it lives as one
    * DataFrame row per probe (an array of ≤ k−1 chosen vectors) that
    * each round joins back against the shortlist on probe_id. Both
    * sides descend from the shortlist's own probe_id window / groupBy,
    * so they are already co-hash-partitioned and the per-round join
    * plans with ZERO exchanges — no broadcast build (a broadcast
    * would route |probes| rows through the driver each round, the
    * bottleneck this shape exists to avoid), no shuffle beyond the
    * shortlist's own; candidate-to-selected similarity is an in-row
    * `array_max(transform(...))` over the joined array.
    *
    * Both engines fold identical IEEE ops in identical order, so the
    * mmr scores are bit-exact and hash-checked raw (s01 discipline).
    * At 100 TB the shortlist is the ANN tier's output (s16 composes
    * the same way): MMR cost is O(k·shortlist) per probe regardless
    * of corpus size and driver traffic is zero regardless of probe
    * count. State lineage grows one join+agg per round over the
    * CACHED shortlist; at k beyond tens, localCheckpoint the state
    * every ~10 rounds (the d07 loop's discipline) — at k = 5 the
    * linear lineage is the cheaper plan.
    */
  def s17MmrRerank(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = normed(s, d)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosq").desc, col("vec_id"))
    val cand = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cosq", expr("graft_dot(pv, v)") / (col("pnrm") * col("nrm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("probe_id"), col("vec_id"), col("v"), col("nrm"), col("cosq"))
      .cache()
    // the result is a LAZY plan over the cached shortlist (nothing is
    // collected), so the cache outlives this builder — released by the
    // next registering build or an explicit releaseCaches()
    releaseCaches()
    releases.register(() => cand.unpersist())
    mmrSelect(cand, k = 5)
  }

  /** The distributed MMR greedy loop behind s17 over any
    * (probe_id, vec_id, v, nrm, cosq) shortlist frame —
    * package-visible so the spec can prove the join-accumulated state
    * reproduces a driver-side reference greedy round by round. The
    * caller should cache `cand`; every round is an exchange-free pass
    * over it (state and shortlist are co-partitioned on probe_id).
    *
    * `checkpointEvery` is the deep-k lineage discipline (the d07
    * loop's): every N join rounds the state localCheckpoints —
    * eagerly materialized executor-side, lineage truncated to a
    * LogicalRDD — so plan depth stays ≤ N joins however large k
    * grows. 0 (the default, right for s17's k = 5) keeps the linear
    * lineage, which is the cheaper plan at shallow k. The k = 32
    * spec runs the discipline against the same reference greedy and
    * asserts the final plan carries at most N joins.
    */
  private[graft] def mmrSelect(cand: DataFrame, k: Int,
      checkpointEvery: Int = 0): DataFrame = {
    val winner = max_by(
      struct(col("vec_id"), col("mmr"), col("v"), col("nrm")),
      struct(col("mmr"), (-col("vec_id")).as("nv"))) // (mmr DESC, id ASC)
    // state: probe_id, sel = array<struct<vec_id, mmr, v, nrm>> in
    // selection order — entirely executor-resident, never collected.
    // Each round references the previous state exactly ONCE (the sel
    // array rides THROUGH the winner aggregation via first(), legal
    // because sel is constant within a probe group) — a second
    // reference (e.g. joining winners back against the old state)
    // would double-evaluate the chain per round: 2^k plan blow-up.
    var state = cand.withColumn("mmr", lit(0.7) * col("cosq"))
      .groupBy(col("probe_id")).agg(winner.as("p"))
      .select(col("probe_id"), array(col("p")).as("sel"))
    for (r <- 2 to k) {
      // shuffle_hash, not broadcast: a BroadcastExchange builds its
      // relation ON THE DRIVER — |probes| rows through the driver per
      // round, the exact bottleneck this loop exists to avoid. Both
      // sides are already hashpartitioned(probe_id) (cand's shortlist
      // window / the state agg's groupBy), so the hash join plans
      // with zero exchanges — per-partition build over the tiny
      // state side.
      state = cand.join(state.hint("shuffle_hash"), "probe_id")
        .filter(expr("!exists(sel, x -> x.vec_id = vec_id)"))
        .withColumn("msim", expr(
          "array_max(transform(sel, x -> graft_dot(v, x.v) / (nrm * x.nrm)))"))
        .withColumn("mmr", lit(0.7) * col("cosq") - lit(0.3) * col("msim"))
        .groupBy(col("probe_id"))
        .agg(winner.as("p"), first(col("sel")).as("sel"))
        .select(col("probe_id"), concat(col("sel"), array(col("p"))).as("sel"))
      if (checkpointEvery > 0 && (r - 1) % checkpointEvery == 0)
        state = state.localCheckpoint() // eager: truncates to LogicalRDD
    }
    state.select(col("probe_id"), posexplode(col("sel")))
      .select(col("probe_id"), (col("pos") + 1).cast("long").as("sel_rank"),
        col("col.vec_id").as("vec_id"), col("col.mmr").as("mmr"))
  }

  /** Radius (range) similarity search — top-k's sibling: return EVERY
    * neighbor with cosine ≥ θ rather than the k best ("find all
    * documents at least this similar", the retrieval form dedup
    * review queues and policy filters ask). Exact tier: brute-force
    * against the broadcast probe set, the recall=1 baseline (the s01
    * relationship). The result SET is threshold-determined, so unlike
    * top-k there is no rank tie-break hazard at all — the frontier of
    * queries near θ is decided by the same IEEE fold in both engines.
    */
  def s18RadiusExact(s: SparkSession, d: String): DataFrame = {
    val e = normed(s, d)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"))
    e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", expr("graft_dot(pv, v)") / (col("pnrm") * col("nrm")))
      .filter(col("cosine") >= 0.3)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Radius search, LSH-bucketed — s18's 100 TB path (the s02⇆s01
    * relationship): candidates are same-hyperplane-bucket vectors
    * only, so the scan side shuffles 8 bits + the vector instead of
    * joining all pairs; the threshold filter then runs on candidates.
    * Recall < 1 by design (bucket-boundary neighbors are missed —
    * multiprobe widens exactly like s04); the oracle replays the
    * identical bucket construction, so the miss set is deterministic
    * and hash-checked, and s20 MEASURES the tier's radius recall
    * against s18's exact result rather than assuming it.
    */
  def s19RadiusLsh(s: SparkSession, d: String): DataFrame = {
    val e = normed(s, d)
    val bucketed = e.selectExpr("vec_id", "v", "nrm",
      "graft_lsh_bucket(v) AS bucket")
    val probes = bucketed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("bucket").as("pbucket"))
    bucketed.join(broadcast(probes),
      col("bucket") === col("pbucket") && col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", expr("graft_dot(pv, v)") / (col("pnrm") * col("nrm")))
      .filter(col("cosine") >= 0.3)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Radius recall — the s12 measurement discipline applied to the
    * radius pair: per probe, how much of s18's exact θ-neighborhood
    * does s19's bucketed tier retrieve? (s19 ⊆ s18 by construction —
    * same probes, same threshold, candidates only restricted — so
    * recall is |s19|/|s18| with no match join needed beyond the
    * count.) Probes whose exact neighborhood is empty are excluded
    * (recall undefined); the recall VALUES are hash-checked, the
    * number a single-table-LSH deployment decides multiprobe on.
    */
  def s20RadiusRecall(s: SparkSession, d: String): DataFrame = {
    val exact = s18RadiusExact(s, d).groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_exact"))
    val lsh = s19RadiusLsh(s, d).groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_lsh"))
    exact.join(lsh, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
        (coalesce(col("n_lsh"), lit(0L)).cast("double") /
          col("n_exact").cast("double")).as("radius_recall"))
  }

  /** s21: FILTERED vector search, exact tier — top-k restricted to
    * candidates passing a METADATA predicate from another table
    * (documents.lang ∈ {de, fr}; vec_id is the embedding of doc_id).
    * This is the vector-store operation every production retrieval
    * stack runs ("search only docs matching these attributes") and it
    * must be a PRE-filter: post-filtering an unfiltered top-k starves
    * k when the predicate is selective (a 27 %-selective filter leaves
    * ~1.35 of 5 results on average and can leave zero) and pays
    * distance computations on candidates the predicate was always
    * going to discard. Shape: the predicate reduces `documents` to an
    * id set, an equi-join restricts the candidate scan BEFORE any
    * cosine is computed (Catalyst pushes the lang filter to the
    * documents scan; at scale the id join is broadcast or shuffle-key
    * by AQE), then s01's exact ranking runs on the survivors. Probes
    * themselves are NOT required to pass the filter — the query vector
    * is external to the searched partition.
    */
  def s21FilteredTopK(s: SparkSession, d: String): DataFrame =
    exactProbeTopK(s, d, filtered = true)

  /** s22: filtered search, ANN tier — s02's LSH bucket index with the
    * metadata filter applied INSIDE the bucket probe: candidates must
    * share the probe's bucket AND pass the predicate before any
    * cosine runs, so per-probe work is ~selectivity/256 of the corpus
    * at scale. The index is built on ALL vectors (one index serves
    * every predicate — the single-index economics a per-predicate
    * index forest can't match); the filter composes with the bucket
    * equi-join at query time. Same documented recall trade as s02
    * (a neighbor hashed elsewhere is missed), measured by s23.
    */
  def s22FilteredAnnLsh(s: SparkSession, d: String): DataFrame =
    lshProbeTopK(s, d, filtered = true, hamming1 = false)

  /** s23: the filtered pair's recall contract (s05's shape): how much
    * of the exact filtered top-5 the bucketed filtered search keeps.
    * The number a deployment tunes multiprobe/hyperplane count
    * against — filtered recall is systematically LOWER than s05's
    * unfiltered recall on the same index, because the filter thins
    * each bucket's candidate pool (fewer in-bucket survivors to rank,
    * same misses outside the bucket) — which is exactly why it needs
    * its own measured gate.
    */
  def s23FilteredRecall(s: SparkSession, d: String): DataFrame =
    recallAt5(s21FilteredTopK(s, d), s22FilteredAnnLsh(s, d))

  /** s24: MULTIPROBE LSH — s02's single index queried at Hamming
    * radius 1: each probe searches its home bucket PLUS the 8 buckets
    * reached by flipping one hyperplane bit (9 of 256 buckets,
    * distinct by construction, so no candidate dedup is needed — a
    * vector lives in exactly one bucket). This is the recall/cost
    * dial every LSH deployment turns BEFORE building more hash
    * tables: OR-amplification with L tables multiplies index build
    * and storage by L, while multiprobe reuses the ONE index and pays
    * only a wider probe fan-out — 9/256 of the corpus per probe here
    * vs 1/256, still a ~28× reduction over brute force. The candidate
    * pool is a strict superset of s02's (home bucket included), so
    * recall can only improve; s25 measures by how much against s05's
    * single-probe number. Plan shape is s02's: the probe side (10
    * rows × 9 bucket keys) broadcasts into the bucketed scan, cosine
    * runs on bucket-matched candidates only, per-probe top-5 via the
    * rank window. (Lv et al., VLDB 2007 order probes by hyperplane
    * margin; the full Hamming-1 ball is the deterministic special
    * case that keeps the oracle exactly replayable in SQL.)
    */
  def s24MultiprobeAnn(s: SparkSession, d: String): DataFrame =
    lshProbeTopK(s, d, filtered = false, hamming1 = true)

  /** s25: the multiprobe recall gate (s05's shape, same exact truth
    * set) — the pair (s05, s25) is the measured before/after of the
    * multiprobe dial on the same index: radius-1 probing retrieves a
    * superset of the single-probe candidates, so recall_at_5 here is
    * ≥ s05's by construction (spec-asserted), and how MUCH higher is
    * the number a deployment weighs against the 9× probe fan-out.
    */
  def s25MultiprobeRecall(s: SparkSession, d: String): DataFrame =
    recallAt5(s01CosineTopK(s, d), s24MultiprobeAnn(s, d))

  /** s26: filtered MULTIPROBE — the two dials composed: s22's
    * metadata pre-filter inside s24's Hamming-1 probe fan-out. This
    * is the cell of the (filter × probe-width) matrix a production
    * retrieval stack actually runs, and the one where multiprobe
    * matters MOST: the predicate thins every bucket's candidate pool
    * (s23 measured filtered single-probe recall at 0.02 — a third of
    * unfiltered s05's 0.06), so widening the probed ball is the
    * designed repair, recovering candidates the filter left sparse
    * without touching the index or the predicate. Same laws as both
    * parents: every result passes the predicate (s22's), hits are
    * monotone vs s22 (s24's superset argument, unchanged — the
    * filter restricts both pools identically); s27 measures the
    * recovery against s21's filtered-exact truth.
    */
  def s26FilteredMultiprobe(s: SparkSession, d: String): DataFrame =
    lshProbeTopK(s, d, filtered = true, hamming1 = true)

  /** s27: filtered-multiprobe recall vs s21's filtered-exact truth —
    * completes the recall-gate triple (s05 unfiltered, s23 filtered
    * single-probe, s27 filtered multiprobe): the three numbers a
    * deployment lays side by side to see what the predicate costs
    * and how much of it the probe width buys back.
    */
  def s27FilteredMultiprobeRecall(s: SparkSession, d: String): DataFrame =
    recallAt5(s21FilteredTopK(s, d), s26FilteredMultiprobe(s, d))

  /** s28: filtered IVF — the filter dial applied to the THIRD index
    * family (coarse-quantizer cells instead of hash buckets): probes
    * route on the full centroid geometry exactly as in s03 (one index
    * serves every predicate — routing never sees the filter), and the
    * metadata id set restricts the routed cell's members BEFORE any
    * cosine, so the candidate pool is (cell ∩ predicate) —
    * ~selectivity/nlist of the corpus at scale. With this every
    * search family exposes the same pre-filter contract: s21 (exact),
    * s22/s26 (LSH single/multiprobe), s28 (IVF); one filterIds body
    * and one oracle filterCte across all of them.
    */
  def s28FilteredIvf(s: SparkSession, d: String): DataFrame =
    ivfTopK(s, d, sampledCentroids = false, nprobe = 1, filtered = true)

  /** s29: filtered-IVF recall vs s21's filtered-exact truth — the
    * IVF column of the filtered recall board (s23 = LSH single-probe,
    * s27 = LSH multiprobe, s29 = IVF nprobe=1): the cross-family
    * comparison a deployment makes when choosing WHICH index to
    * serve a predicate-heavy workload from.
    */
  def s29FilteredIvfRecall(s: SparkSession, d: String): DataFrame =
    recallAt5(s21FilteredTopK(s, d), s28FilteredIvf(s, d))

  /** s30: HYBRID retrieval — keyword and vector evidence fused by
    * Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR
    * 2009): rrf(doc) = Σ_lists 1/(60 + rank). Rank-only fusion is
    * the production default precisely because the two modalities'
    * scores are incommensurable (a cosine and a tf·idf share no
    * scale) — RRF needs no per-query score normalization, which is
    * also what makes it exactly oracle-able here. Keyword side:
    * t15's salient-term table (top-3 tf·idf terms per doc, one
    * shared body+oracle with t15 so the term extractor cannot
    * drift); candidates share ≥1 salient term with the probe doc's
    * own top-3 and score by the summed tfidf of the shared terms
    * (term-keyed equi-join — the inverted-index shape; at 100 TB
    * the join key is the term, bounded by salience selectivity, not
    * a corpus scan). Vector side: s01's exact top-5 (at scale the
    * deployment swaps in s22/s24/s26 — any tier emitting ranks
    * composes unchanged, the point of rank-only fusion). Both
    * five-deep lists full-outer-merge on (probe, doc); fused top-5
    * by rrf (rounded at 6dp on both sides, t15's discipline, before
    * ranking) with doc_id tie-break.
    */
  def s30HybridRrf(s: SparkSession, d: String): DataFrame =
    hybridRrf(s, d, s01CosineTopK(s, d), rrfK = 60)

  /** s31: the SAME fusion with the vector arm swapped for s02's LSH
    * tier — the deployment shape s30's docstring promises ("any tier
    * emitting ranks composes unchanged"), actually composed and
    * oracle-checked. At 100 TB this is the production pairing: the
    * keyword arm is already an index join; the vector arm must be too.
    */
  def s31HybridAnnRrf(s: SparkSession, d: String): DataFrame =
    hybridRrf(s, d, s02AnnLsh(s, d), rrfK = 60)

  /** s32: the fusion knob's RECALL GATE (the s05/s23 discipline
    * carried to hybrid retrieval): fused-top-5 overlap of the
    * ANN-armed fusion (s31) against the exact-armed fusion (s30).
    * Approximating INSIDE a fusion is only safe if measured at the
    * fused list, not at the arm — a vector arm with high standalone
    * recall can still reorder the fused top-5.
    */
  def s32HybridRecall(s: SparkSession, d: String): DataFrame =
    recallAt5(
      s30HybridRrf(s, d).select(col("probe_id"),
        col("doc_id").as("neighbor_id")),
      s31HybridAnnRrf(s, d).select(col("probe_id"),
        col("doc_id").as("neighbor_id")))

  /** The one fusion body behind s30/s31 (`rrfK` is RRF's damping
    * constant — 60 in Cormack et al.; parameterized so the knob is a
    * tested argument, not a buried literal): keyword arm from t15's
    * salient terms, vector arm from ANY tier emitting
    * (probe_id, neighbor_id, rank) rows.
    */
  private[graft] def hybridRrf(s: SparkSession, d: String,
      vecRanks: DataFrame, rrfK: Int): DataFrame = {
    val vec = vecRanks
      .select(col("probe_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rank_v"))
    val sal = graft.queries.TextOps
      .tfidfTopK(Tables.documents(s, d), k = 3).cache()
    // s17's discipline: a composed caller (or the next registering
    // build) can drop this deterministically instead of relying on
    // the harness's post-query clearCache
    releases.register(() => { sal.unpersist(); () })
    val qterms = sal.filter(col("doc_id") < 10)
      .select(col("doc_id").as("probe_id"), col("term"))
    val kw = sal.join(qterms, Seq("term"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(round(sum(col("tfidf")), 6).as("kscore"))
      .withColumn("rank_k", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("kscore").desc, col("doc_id"))))
      .filter(col("rank_k") <= 5)
      .select(col("probe_id"), col("doc_id"), col("rank_k"))
    rrfFuse(vec, kw, rrfK)
  }

  /** The pure RRF merge — (probe_id, doc_id, rank_v) ⊕ (probe_id,
    * doc_id, rank_k) → fused top-5. Factored so the spec can pin the
    * damping knob's semantics with synthetic arms: small k rewards a
    * single strong rank, large k rewards presence in BOTH lists. */
  private[graft] def rrfFuse(vec: DataFrame, kw: DataFrame,
      rrfK: Int): DataFrame = {
    val fused = vec.join(kw, Seq("probe_id", "doc_id"), "full")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_v")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("rank_k")), lit(0.0)), 6))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("rrf"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s32_hybrid_recall" -> s32HybridRecall,
    "s31_hybrid_ann_rrf" -> s31HybridAnnRrf,
    "s30_hybrid_rrf" -> s30HybridRrf,
    "s28_filtered_ivf" -> s28FilteredIvf,
    "s29_filtered_ivf_recall" -> s29FilteredIvfRecall,
    "s24_multiprobe_ann" -> s24MultiprobeAnn,
    "s25_multiprobe_recall" -> s25MultiprobeRecall,
    "s26_filtered_multiprobe" -> s26FilteredMultiprobe,
    "s27_filtered_mp_recall" -> s27FilteredMultiprobeRecall,
    "s21_filtered_topk" -> s21FilteredTopK,
    "s22_filtered_ann" -> s22FilteredAnnLsh,
    "s23_filtered_recall" -> s23FilteredRecall,
    "s20_radius_recall" -> s20RadiusRecall,
    "s19_radius_lsh" -> s19RadiusLsh,
    "s18_radius_exact" -> s18RadiusExact,
    "s17_mmr_rerank" -> s17MmrRerank,
    "s16_rerank_ann" -> s16RerankAnn,
    "s15_kcenter_sample" -> s15KcenterSample,
    "s14_ivfpq_ann" -> s14IvfPqAnn,
    "s13_pq_refined" -> s13PqRefined,
    "s12_quant_recall" -> s12QuantRecall,
    "s11_pq_ann" -> s11PqAnn,
    "s10_sq_ann" -> s10SqAnn,
    "s09_rproj_ann" -> s09RandomProjAnn,
    "s08_kmeans_full" -> s08KmeansFull,
    "s01_cosine_topk" -> s01CosineTopK,
    "e09_hard_negatives" -> e09HardNegatives,
    "s02_ann_lsh" -> s02AnnLsh,
    "s03_ivf_topk" -> s03IvfTopK,
    "s04_ivf_nprobe2" -> s04IvfNprobe2,
    "s05_ann_recall" -> s05AnnRecall,
    "s06_kmeans_refine" -> s06KmeansRefine,
    "s07_kmeans_converge" -> s07KmeansConverge)

  private val foldCosine =
    """list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> p.v[i] * e.v[i])), (acc, x) -> acc + x)
       / (sqrt(list_reduce(list_prepend(0.0, list_transform(p.v, x -> x * x)), (acc, x) -> acc + x))
        * sqrt(list_reduce(list_prepend(0.0, list_transform(e.v, x -> x * x)), (acc, x) -> acc + x)))"""

  private val s01Sql =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $foldCosine AS cosine
          FROM ev p JOIN ev e ON p.vec_id < 10 AND e.vec_id <> p.vec_id)
        SELECT probe_id, rank, neighbor_id, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) r
        WHERE rank <= 5"""

  // the one recall-gate SQL behind s05/s23/s25/s27/s29 — recallAt5's
  // oracle twin, so the five cells' measurement cannot drift either
  /** The hybrid-fusion oracle body behind s30/s31 — one builder so the
    * keyword arm, the RRF arithmetic (k=60, 6dp rounding), and the
    * tie-breaks stay identical across vector-arm swaps. */
  private def hybridSql(vecSql: String): String =
    s"""WITH ${graft.queries.TextOps.tfidfCtes},
        sal AS (
          SELECT doc_id, term, tfidf FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term) AS rk FROM scored_t) x
          WHERE rk <= 3),
        q AS (SELECT doc_id AS probe_id, term FROM sal WHERE doc_id < 10),
        kw AS (
          SELECT probe_id, doc_id, rank_k FROM (
            SELECT q.probe_id, s.doc_id,
              row_number() OVER (PARTITION BY q.probe_id
                ORDER BY round(sum(s.tfidf), 6) DESC, s.doc_id) AS rank_k
            FROM sal s JOIN q ON s.term = q.term AND s.doc_id <> q.probe_id
            GROUP BY q.probe_id, s.doc_id) g
          WHERE rank_k <= 5),
        vv AS (SELECT probe_id, neighbor_id AS doc_id, rank AS rank_v
               FROM ($vecSql) v),
        fused AS (
          SELECT probe_id, doc_id,
            round(coalesce(1.0 / (60 + rank_v), 0) +
                  coalesce(1.0 / (60 + rank_k), 0), 6) AS rrf
          FROM vv FULL JOIN kw USING (probe_id, doc_id))
        SELECT probe_id, rank, doc_id, rrf FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY rrf DESC, doc_id) AS rank FROM fused) f
        WHERE rank <= 5"""

  private def recallSql(exactSql: String, annSql: String): String =
    s"""WITH exact AS (SELECT probe_id, neighbor_id FROM ($exactSql) x),
        ann AS (SELECT probe_id, neighbor_id FROM ($annSql) y),
        hits AS (SELECT count(*) AS n_hits FROM exact JOIN ann
                 USING (probe_id, neighbor_id)),
        tot AS (SELECT count(*) AS n_exact FROM exact)
        SELECT n_hits, n_exact,
          n_hits::DOUBLE / n_exact::DOUBLE AS recall_at_5
        FROM hits, tot"""

  // the 8-hyperplane LCG bucket, shared by every LSH oracle
  // (s02/s22/s24) — ONE string so the index construction cannot
  // drift between the single-probe, filtered, and multiprobe tiers
  private val lshBucketCte =
    """b AS (
          SELECT vec_id, v,
            list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 8), j ->
              CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(0, 64), k ->
                v[k + 1] * (((1103515245::BIGINT * (j * 64 + k) + 12345) % 2147483648)::DOUBLE
                            / 2147483648.0 - 0.5))), (acc, x) -> acc + x) > 0.0
              THEN (1::BIGINT << j) ELSE 0 END)), (acc, x) -> acc + x) AS bucket
          FROM ev)"""

  private val s02Sql =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $lshBucketCte,
        scored AS (
          SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $foldCosine AS cosine
          FROM b p JOIN b e ON p.vec_id < 10 AND e.vec_id <> p.vec_id
                           AND p.bucket = e.bucket)
        SELECT probe_id, rank, neighbor_id, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) r
        WHERE rank <= 5"""

  // s21/s22: the filtered-search pair — s01/s02 with the metadata
  // predicate joined in BEFORE ranking (same pre-filter the Spark
  // side computes); one filter CTE string so the two cannot drift
  private val filterCte =
    """f AS (SELECT doc_id FROM documents WHERE lang IN ('de', 'fr'))"""
  private val s21Sql =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $filterCte,
        scored AS (
          SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $foldCosine AS cosine
          FROM ev p JOIN ev e ON p.vec_id < 10 AND e.vec_id <> p.vec_id
          JOIN f ON f.doc_id = e.vec_id)
        SELECT probe_id, rank, neighbor_id, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) r
        WHERE rank <= 5"""
  private val s22Sql =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $filterCte,
        $lshBucketCte,
        scored AS (
          SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $foldCosine AS cosine
          FROM b p JOIN b e ON p.vec_id < 10 AND e.vec_id <> p.vec_id
                           AND p.bucket = e.bucket
          JOIN f ON f.doc_id = e.vec_id)
        SELECT probe_id, rank, neighbor_id, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) r
        WHERE rank <= 5"""

  // s24: the probe side fans out to the Hamming-1 ball (home bucket +
  // 8 single-bit flips — xor with 0 and each power of two); the
  // candidate join then matches the SAME b CTE on any probed bucket.
  // A candidate lives in exactly one bucket, so no DISTINCT is needed.
  private val s24Sql =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $lshBucketCte,
        pb AS (
          SELECT vec_id, v, xor(bucket, m) AS pbucket
          FROM b, (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m)
          WHERE vec_id < 10),
        scored AS (
          SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $foldCosine AS cosine
          FROM pb p JOIN b e ON e.vec_id <> p.vec_id
                            AND e.bucket = p.pbucket)
        SELECT probe_id, rank, neighbor_id, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) r
        WHERE rank <= 5"""

  // s26: s24's probe fan-out with s22's filter joined into the
  // candidate side before any cosine — built from the same shared
  // CTE strings as both parents
  private val s26Sql =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $filterCte,
        $lshBucketCte,
        pb AS (
          SELECT vec_id, v, xor(bucket, m) AS pbucket
          FROM b, (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS m)
          WHERE vec_id < 10),
        scored AS (
          SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $foldCosine AS cosine
          FROM pb p JOIN b e ON e.vec_id <> p.vec_id
                            AND e.bucket = p.pbucket
          JOIN f ON f.doc_id = e.vec_id)
        SELECT probe_id, rank, neighbor_id, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) r
        WHERE rank <= 5"""

  // s09's oracle mirrors the signed projection exactly: same LCG, same
  // bit-20 sign, same k-ascending fold — then the identical 16-dim
  // cosine ranking. Fully parenthesized: DuckDB's %, >>, & precedence
  // must not differ from the intended grouping.
  // the JL projection + reduced-space cosine, shared by s09 and s16's
  // coarse stage — one string so the two oracles cannot drift
  private val rpCte =
    """rp AS (
         SELECT vec_id, list_transform(range(0, 16), j ->
           list_reduce(list_prepend(0.0, list_transform(range(0, 64), k ->
             v[k + 1] * (CASE WHEN ((((1103515245 * (j * 64 + k) + 12345) % 2147483648) >> 20) & 1) = 1
                         THEN 1.0 ELSE -1.0 END))),
             (acc, x) -> acc + x)) AS r
         FROM ev)"""

  private val foldRcos =
    """list_reduce(list_prepend(0.0, list_transform(range(1, 17), i -> p.r[i] * e.r[i])), (acc, x) -> acc + x)
       / (sqrt(list_reduce(list_prepend(0.0, list_transform(p.r, x -> x * x)), (acc, x) -> acc + x))
        * sqrt(list_reduce(list_prepend(0.0, list_transform(e.r, x -> x * x)), (acc, x) -> acc + x)))"""

  private val s09Sql =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       $rpCte,
       scored AS (
         SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $foldRcos AS rcos
         FROM rp p JOIN rp e ON p.vec_id < 10 AND e.vec_id <> p.vec_id)
       SELECT probe_id, rank, neighbor_id, rcos FROM (
         SELECT *, row_number() OVER (PARTITION BY probe_id
           ORDER BY rcos DESC, neighbor_id) AS rank FROM scored) r
       WHERE rank <= 5"""

  // s16: s09's coarse ranking widened to a 50-deep shortlist, then the
  // exact cosine (foldCosine — s01's fold) re-ranks only shortlist rows
  private val s16Sql =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       $rpCte,
       coarse AS (
         SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $foldRcos AS rcos
         FROM rp p JOIN rp e ON p.vec_id < 10 AND e.vec_id <> p.vec_id),
       short AS (
         SELECT probe_id, neighbor_id FROM (
           SELECT *, row_number() OVER (PARTITION BY probe_id
             ORDER BY rcos DESC, neighbor_id) AS crank FROM coarse) c
         WHERE crank <= 50),
       rer AS (
         SELECT sh.probe_id, sh.neighbor_id, $foldCosine AS cosine
         FROM short sh JOIN ev p ON p.vec_id = sh.probe_id
                       JOIN ev e ON e.vec_id = sh.neighbor_id)
       SELECT probe_id, rank, neighbor_id, cosine FROM (
         SELECT *, row_number() OVER (PARTITION BY probe_id
           ORDER BY cosine DESC, neighbor_id) AS rank FROM rer) r
       WHERE rank <= 5"""

  // s10's oracle mirrors train/quantize/decode/search exactly (1-based
  // list indexing vs Spark's 0-based subscripts is the only rewrite).
  private val s10Sql =
    """WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       st AS (
         SELECT i AS dim, min(v[i]) AS mn, max(v[i]) AS mx
         FROM ev, unnest(range(1, 65)) AS u(i) GROUP BY 1),
       stats AS (
         SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
         FROM st),
       coded AS (
         SELECT vec_id,
           -- degenerate dimension (mx = mn): code 0, reconstructing mn
           -- exactly — mirrors SqDequantize's w == 0 guard (without it
           -- this side errors on floor(NaN)::BIGINT)
           list_transform(range(0, 64), i -> CASE
             WHEN mxs[i + 1] = mns[i + 1] THEN 0
             ELSE least(254,
               floor((v[i + 1] - mns[i + 1]) / (mxs[i + 1] - mns[i + 1]) * 255.0)::BIGINT)
             END) AS q,
           mns, mxs
         FROM ev, stats),
       dqv AS (
         SELECT vec_id,
           list_transform(range(0, 64), i ->
             mns[i + 1] + (q[i + 1]::DOUBLE + 0.5) * (mxs[i + 1] - mns[i + 1]) / 255.0) AS dq
         FROM coded),
       scored AS (
         SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
           list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> p.dq[i] * e.dq[i])), (acc, x) -> acc + x)
           / (sqrt(list_reduce(list_prepend(0.0, list_transform(p.dq, x -> x * x)), (acc, x) -> acc + x))
            * sqrt(list_reduce(list_prepend(0.0, list_transform(e.dq, x -> x * x)), (acc, x) -> acc + x))) AS qcos
         FROM dqv p JOIN dqv e ON p.vec_id < 10 AND e.vec_id <> p.vec_id)
       SELECT probe_id, rank, neighbor_id, qcos FROM (
         SELECT *, row_number() OVER (PARTITION BY probe_id
           ORDER BY qcos DESC, neighbor_id) AS rank FROM scored) r
       WHERE rank <= 5"""

  // s11's oracle mirrors codebook-select/encode/decode/ADC-search
  // exactly: same md5-sampled 16 codewords, same subspace L2 fold
  // order, ties to the lowest codeword index, probe-exact scoring.
  private val s11Sql =
    """WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       cw AS (
         SELECT v, h, vec_id FROM (
           SELECT v, vec_id,
             ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT AS h
           FROM ev)
         ORDER BY h, vec_id LIMIT 16),
       cwj AS (
         SELECT v, row_number() OVER (ORDER BY h, vec_id) - 1 AS j FROM cw),
       dists AS (
         SELECT e.vec_id, s, c.j,
           list_reduce(list_prepend(0.0, list_transform(range(1, 9),
             i -> (e.v[s*8 + i] - c.v[s*8 + i]) * (e.v[s*8 + i] - c.v[s*8 + i]))),
             (a, x) -> a + x) AS d2
         FROM ev e, unnest(range(0, 8)) AS u(s), cwj c),
       codes AS (
         SELECT vec_id, s, j FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id, s
             ORDER BY d2, j) AS rk
           FROM dists) t
         WHERE rk = 1),
       recon AS (
         SELECT codes.vec_id,
           flatten(list(list_slice(c.v, s*8 + 1, s*8 + 8) ORDER BY s)) AS dq
         FROM codes JOIN cwj c USING (j)
         GROUP BY codes.vec_id),
       scored AS (
         SELECT p.vec_id AS probe_id, r.vec_id AS neighbor_id,
           list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> p.v[i] * r.dq[i])), (a, x) -> a + x)
           / (sqrt(list_reduce(list_prepend(0.0, list_transform(p.v, x -> x * x)), (a, x) -> a + x))
            * sqrt(list_reduce(list_prepend(0.0, list_transform(r.dq, x -> x * x)), (a, x) -> a + x))) AS qcos
         FROM ev p JOIN recon r ON p.vec_id < 10 AND r.vec_id <> p.vec_id)
       SELECT probe_id, rank, neighbor_id, qcos FROM (
         SELECT *, row_number() OVER (PARTITION BY probe_id
           ORDER BY qcos DESC, neighbor_id) AS rank FROM scored) t
       WHERE rank <= 5"""

  // s13's oracle: s11's init/assign CTEs, then the per-(subspace,
  // codeword) ordered-fold re-centering (empty cells keep the init
  // slice via the LEFT JOIN), then s11's encode/ADC search against the
  // refined codebook. Every fold order matches the engine exactly.
  private val s13Sql =
    """WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       cw AS (
         SELECT v, h, vec_id FROM (
           SELECT v, vec_id,
             ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT AS h
           FROM ev)
         ORDER BY h, vec_id LIMIT 16),
       cwj AS (
         SELECT v, row_number() OVER (ORDER BY h, vec_id) - 1 AS j FROM cw),
       dists AS (
         SELECT e.vec_id, s, c.j,
           list_reduce(list_prepend(0.0, list_transform(range(1, 9),
             i -> (e.v[s*8 + i] - c.v[s*8 + i]) * (e.v[s*8 + i] - c.v[s*8 + i]))),
             (a, x) -> a + x) AS d2
         FROM ev e, unnest(range(0, 8)) AS u(s), cwj c),
       codes AS (
         SELECT vec_id, s, j FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id, s
             ORDER BY d2, j) AS rk
           FROM dists) t
         WHERE rk = 1),
       cells AS (
         SELECT s, j, list(list_slice(e.v, s*8 + 1, s*8 + 8) ORDER BY e.vec_id) AS vs,
           count(*) AS n
         FROM codes JOIN ev e USING (vec_id) GROUP BY s, j),
       newm AS (
         SELECT s, j, i,
           list_reduce(list_prepend(0.0, list_transform(vs, vv -> vv[i])),
             (a, x) -> a + x) / n AS mv
         FROM cells, unnest(range(1, 9)) AS u(i)),
       oldv AS (
         SELECT j, k, v[k] AS ov FROM cwj, unnest(range(1, 65)) AS u(k)),
       flat AS (
         SELECT o.j * 64 + o.k - 1 AS idx, coalesce(m.mv, o.ov) AS val
         FROM oldv o LEFT JOIN newm m
           ON m.j = o.j AND m.s = (o.k - 1) // 8
          AND m.i = ((o.k - 1) % 8) + 1),
       cw2 AS (
         SELECT idx // 64 AS j, list(val ORDER BY idx) AS v
         FROM flat GROUP BY 1),
       dists2 AS (
         SELECT e.vec_id, s, c.j,
           list_reduce(list_prepend(0.0, list_transform(range(1, 9),
             i -> (e.v[s*8 + i] - c.v[s*8 + i]) * (e.v[s*8 + i] - c.v[s*8 + i]))),
             (a, x) -> a + x) AS d2
         FROM ev e, unnest(range(0, 8)) AS u(s), cw2 c),
       codes2 AS (
         SELECT vec_id, s, j FROM (
           SELECT *, row_number() OVER (PARTITION BY vec_id, s
             ORDER BY d2, j) AS rk
           FROM dists2) t
         WHERE rk = 1),
       recon AS (
         SELECT codes2.vec_id,
           flatten(list(list_slice(c.v, s*8 + 1, s*8 + 8) ORDER BY s)) AS dq
         FROM codes2 JOIN cw2 c USING (j)
         GROUP BY codes2.vec_id),
       scored AS (
         SELECT p.vec_id AS probe_id, r.vec_id AS neighbor_id,
           list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> p.v[i] * r.dq[i])), (a, x) -> a + x)
           / (sqrt(list_reduce(list_prepend(0.0, list_transform(p.v, x -> x * x)), (a, x) -> a + x))
            * sqrt(list_reduce(list_prepend(0.0, list_transform(r.dq, x -> x * x)), (a, x) -> a + x))) AS qcos
         FROM ev p JOIN recon r ON p.vec_id < 10 AND r.vec_id <> p.vec_id)
       SELECT probe_id, rank, neighbor_id, qcos FROM (
         SELECT *, row_number() OVER (PARTITION BY probe_id
           ORDER BY qcos DESC, neighbor_id) AS rank FROM scored) t
       WHERE rank <= 5"""

  // s14's oracle: s03's centroid CTE → residuals → s11's codebook
  // select/encode/decode over the RESIDUAL vectors → reconstruction =
  // centroid + decoded residual → nprobe=1 routing → in-cell ADC
  // ranking. Fold orders match the engine expression-for-expression.
  private val s14Sql =
    s"""WITH ev AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        ${centCte(sampleWhere = "")},
        res AS (
          SELECT e.vec_id, e.label,
            list_transform(range(1, 65), i -> e.v[i] - c.cv[i]) AS r,
            c.cv AS cv
          FROM ev e JOIN cent c ON e.label = c.label),
        cw AS (
          SELECT r AS v, h, vec_id FROM (
            SELECT r, vec_id,
              ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT AS h
            FROM res)
          ORDER BY h, vec_id LIMIT 16),
        cwj AS (
          SELECT v, row_number() OVER (ORDER BY h, vec_id) - 1 AS j FROM cw),
        dists AS (
          SELECT e.vec_id, s, c.j,
            list_reduce(list_prepend(0.0, list_transform(range(1, 9),
              i -> (e.r[s*8 + i] - c.v[s*8 + i]) * (e.r[s*8 + i] - c.v[s*8 + i]))),
              (a, x) -> a + x) AS d2
          FROM res e, unnest(range(0, 8)) AS u(s), cwj c),
        codes AS (
          SELECT vec_id, s, j FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s
              ORDER BY d2, j) AS rk
            FROM dists) t
          WHERE rk = 1),
        reconr AS (
          SELECT codes.vec_id,
            flatten(list(list_slice(c.v, s*8 + 1, s*8 + 8) ORDER BY s)) AS dqr
          FROM codes JOIN cwj c USING (j)
          GROUP BY codes.vec_id),
        recon AS (
          SELECT rr.vec_id, res.label AS cell,
            list_transform(range(1, 65), i -> res.cv[i] + rr.dqr[i]) AS dq
          FROM reconr rr JOIN res ON rr.vec_id = res.vec_id),
        routed AS (
          SELECT probe_id, cell, pv FROM (
            SELECT p.vec_id AS probe_id, c.label AS cell, p.v AS pv,
              row_number() OVER (PARTITION BY p.vec_id ORDER BY
                (list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> p.v[i] * c.cv[i])), (a, x) -> a + x)
                 / (sqrt(list_reduce(list_prepend(0.0, list_transform(p.v, x -> x * x)), (a, x) -> a + x))
                  * sqrt(list_reduce(list_prepend(0.0, list_transform(c.cv, x -> x * x)), (a, x) -> a + x)))) DESC,
                c.label) AS crk
            FROM ev p CROSS JOIN cent c WHERE p.vec_id < 10) t
          WHERE crk = 1),
        scored AS (
          SELECT r2.probe_id, rec.vec_id AS neighbor_id,
            list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> r2.pv[i] * rec.dq[i])), (a, x) -> a + x)
            / (sqrt(list_reduce(list_prepend(0.0, list_transform(r2.pv, x -> x * x)), (a, x) -> a + x))
             * sqrt(list_reduce(list_prepend(0.0, list_transform(rec.dq, x -> x * x)), (a, x) -> a + x))) AS qcos
          FROM routed r2 JOIN recon rec
            ON rec.cell = r2.cell AND rec.vec_id <> r2.probe_id)
        SELECT probe_id, rank, neighbor_id, qcos FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY qcos DESC, neighbor_id) AS rank FROM scored) t
        WHERE rank <= 5"""

  // s15's oracle replays the greedy loop as a GENERATED CTE chain —
  // one (d_r = distance update, s_r = argmax pick) pair per round,
  // s07's unrolled-rounds trick taken to k = 8 selections. The folds
  // mirror the engine expression-for-expression (i-ascending
  // sequential dot, sqrt-of-sumsq norms, least() on the running
  // minimum), so the gap VALUES hash-check, not just the ids.
  private val s15Sql: String = {
    def cosTo(e: String, s: String) =
      s"""(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $e.v[i] * $s.v[i])), (a, x) -> a + x)
           / ($e.nrm * $s.nrm))"""
    val rounds = (1 until 8).map { r =>
      val prev = if (r == 1) "evn" else s"d${r - 1}"
      val dm = if (r == 1) s"1.0 - ${cosTo("e", "s")}"
               else s"least(e.dmin, 1.0 - ${cosTo("e", "s")})"
      s"""d$r AS (
            SELECT e.vec_id, e.v, e.nrm, $dm AS dmin
            FROM $prev e, s${r - 1} s WHERE e.vec_id <> s.vec_id),
          s$r AS (SELECT vec_id, v, nrm, dmin FROM d$r
                  ORDER BY dmin DESC, vec_id LIMIT 1)"""
    }.mkString(",\n")
    val picks = (1 until 8).map(r =>
      s"UNION ALL SELECT ${r}::BIGINT, vec_id, dmin FROM s$r").mkString("\n")
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        evn AS (SELECT vec_id, v,
          sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
          FROM ev),
        s0 AS (SELECT vec_id, v, nrm FROM evn ORDER BY vec_id LIMIT 1),
        $rounds
        SELECT 0::BIGINT AS sel_rank, vec_id, 0.0 AS gap FROM s0
        $picks"""
  }

  /** s17's oracle: the greedy rounds unrolled as CTEs (s15's idiom),
    * one (m_r, d_r, s_r, sel_r) block per pick after the first.
    */
  private val s17Sql: String = {
    def cosTo(a: String, b: String) =
      s"""(list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a.v[i] * $b.v[i])), (ac, x) -> ac + x)
           / ($a.nrm * $b.nrm))"""
    val rounds = (2 to 5).map { r =>
      s"""m$r AS (
            SELECT c.probe_id, c.vec_id, max(${cosTo("c", "s")}) AS msim
            FROM cand c JOIN sel${r - 1} s ON c.probe_id = s.probe_id
            GROUP BY c.probe_id, c.vec_id),
          d$r AS (
            SELECT c.probe_id, c.vec_id, c.v, c.nrm, c.cosq,
              0.7 * c.cosq - 0.3 * m.msim AS mmr
            FROM cand c JOIN m$r m ON c.probe_id = m.probe_id AND c.vec_id = m.vec_id
            WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} x
              WHERE x.probe_id = c.probe_id AND x.vec_id = c.vec_id)),
          s$r AS (
            SELECT probe_id, vec_id, v, nrm, cosq, mmr FROM (
              SELECT *, row_number() OVER (PARTITION BY probe_id
                ORDER BY mmr DESC, vec_id) AS rn FROM d$r) WHERE rn = 1),
          sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM s$r)"""
    }.mkString(",\n")
    val picks = (2 to 5).map(r =>
      s"UNION ALL SELECT probe_id, ${r}::BIGINT, vec_id, mmr FROM s$r").mkString("\n")
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        evn AS (SELECT vec_id, v,
          sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
          FROM ev),
        scored AS (
          SELECT p.vec_id AS probe_id, e.vec_id AS vec_id, e.v, e.nrm, $foldCosine AS cosq
          FROM evn p JOIN evn e ON p.vec_id < 10 AND e.vec_id <> p.vec_id),
        cand AS (
          SELECT probe_id, vec_id, v, nrm, cosq FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY cosq DESC, vec_id) AS rn FROM scored) WHERE rn <= 20),
        s1 AS (
          SELECT probe_id, vec_id, v, nrm, cosq, 0.7 * cosq AS mmr FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY cosq DESC, vec_id) AS rn FROM cand) WHERE rn = 1),
        sel1 AS (SELECT * FROM s1),
        $rounds
        SELECT probe_id, 1::BIGINT AS sel_rank, vec_id, mmr FROM s1
        $picks"""
  }

  private val s18Sql =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $foldCosine AS cosine
          FROM ev p JOIN ev e ON p.vec_id < 10 AND e.vec_id <> p.vec_id)
        SELECT probe_id, neighbor_id, cosine FROM scored
        WHERE cosine >= 0.3"""

  private val s19Sql =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (
          SELECT vec_id, v,
            list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 8), j ->
              CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(0, 64), k ->
                v[k + 1] * (((1103515245::BIGINT * (j * 64 + k) + 12345) % 2147483648)::DOUBLE
                            / 2147483648.0 - 0.5))), (acc, x) -> acc + x) > 0.0
              THEN (1::BIGINT << j) ELSE 0 END)), (acc, x) -> acc + x) AS bucket
          FROM ev),
        scored AS (
          SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id, $foldCosine AS cosine
          FROM b p JOIN b e ON p.vec_id < 10 AND e.vec_id <> p.vec_id
                           AND p.bucket = e.bucket)
        SELECT probe_id, neighbor_id, cosine FROM scored
        WHERE cosine >= 0.3"""

  private val s20Sql =
    s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (
          SELECT vec_id, v,
            list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 8), j ->
              CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(0, 64), k ->
                v[k + 1] * (((1103515245::BIGINT * (j * 64 + k) + 12345) % 2147483648)::DOUBLE
                            / 2147483648.0 - 0.5))), (acc, x) -> acc + x) > 0.0
              THEN (1::BIGINT << j) ELSE 0 END)), (acc, x) -> acc + x) AS bucket
          FROM ev),
        ex AS (
          SELECT p.vec_id AS probe_id, count(*) AS n_exact
          FROM ev p JOIN ev e ON p.vec_id < 10 AND e.vec_id <> p.vec_id
          WHERE $foldCosine >= 0.3 GROUP BY 1),
        ls AS (
          SELECT p.vec_id AS probe_id, count(*) AS n_lsh
          FROM b p JOIN b e ON p.vec_id < 10 AND e.vec_id <> p.vec_id
                           AND p.bucket = e.bucket
          WHERE $foldCosine >= 0.3 GROUP BY 1)
        SELECT ex.probe_id, n_exact,
          coalesce(n_lsh, 0)::BIGINT AS n_lsh,
          coalesce(n_lsh, 0) / (n_exact * 1.0) AS radius_recall
        FROM ex LEFT JOIN ls ON ex.probe_id = ls.probe_id"""

  val oracles: Map[String, String] = Map(
    "s20_radius_recall" -> s20Sql,
    "s19_radius_lsh" -> s19Sql,
    "s18_radius_exact" -> s18Sql,
    "s17_mmr_rerank" -> s17Sql,
    "s16_rerank_ann" -> s16Sql,
    "s15_kcenter_sample" -> s15Sql,
    "s14_ivfpq_ann" -> s14Sql,
    "s13_pq_refined" -> s13Sql,
    "s12_quant_recall" ->
      s"""WITH exact AS (SELECT probe_id, neighbor_id FROM ($s01Sql) x),
          t02 AS (SELECT probe_id, neighbor_id FROM ($s02Sql) g),
          t03 AS (SELECT probe_id, neighbor_id FROM (${ivfSql(sampleWhere = "", nprobe = 1)}) h),
          t04 AS (SELECT probe_id, neighbor_id FROM (${ivfSql(
            sampleWhere = "WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT % 3 = 0",
            nprobe = 2)}) i),
          t09 AS (SELECT probe_id, neighbor_id FROM ($s09Sql) a),
          t10 AS (SELECT probe_id, neighbor_id FROM ($s10Sql) b),
          t11 AS (SELECT probe_id, neighbor_id FROM ($s11Sql) c),
          t13 AS (SELECT probe_id, neighbor_id FROM ($s13Sql) e),
          t14 AS (SELECT probe_id, neighbor_id FROM ($s14Sql) f),
          t16 AS (SELECT probe_id, neighbor_id FROM ($s16Sql) j),
          ann AS (
            SELECT 's02_lsh' AS tier, * FROM t02
            UNION ALL SELECT 's03_ivf1', * FROM t03
            UNION ALL SELECT 's04_ivf2', * FROM t04
            UNION ALL SELECT 's09_rproj', * FROM t09
            UNION ALL SELECT 's10_sq', * FROM t10
            UNION ALL SELECT 's11_pq', * FROM t11
            UNION ALL SELECT 's13_pq_refined', * FROM t13
            UNION ALL SELECT 's14_ivfpq', * FROM t14
            UNION ALL SELECT 's16_rerank', * FROM t16),
          hits AS (SELECT tier, count(*) AS hits FROM exact
                   JOIN ann USING (probe_id, neighbor_id) GROUP BY tier),
          tot AS (SELECT count(*) AS n_exact FROM exact),
          tiers AS (SELECT * FROM (VALUES ('s02_lsh'), ('s03_ivf1'), ('s04_ivf2'), ('s09_rproj'), ('s10_sq'), ('s11_pq'), ('s13_pq_refined'), ('s14_ivfpq'), ('s16_rerank')) t(tier))
          SELECT tier, coalesce(hits, 0)::BIGINT AS n_hits, n_exact,
            coalesce(hits, 0)::DOUBLE / n_exact::DOUBLE AS recall_at_5
          FROM tiers LEFT JOIN hits USING (tier), tot""",
    "s11_pq_ann" -> s11Sql,
    "s10_sq_ann" -> s10Sql,
    "s09_rproj_ann" -> s09Sql,
    // s08 contract oracle (q17 pattern): convergence and the fixed
    // point are engine-loop facts; the SQL side pins the invariants
    // (final_moves = 0 at a fixed point, ≤ k cells) plus the exact
    // total membership.
    "s08_kmeans_full" ->
      """SELECT true AS converged, 0::BIGINT AS final_moves,
           true AS cells_le_k, count(*) AS total_members
         FROM embeddings""",
    "s01_cosine_topk" -> s01Sql,
    // identical fold-cosine, probe convention, and exclusion of the
    // anchor's d07 cluster-mates (the cluster CTE is d07's own)
    "e09_hard_negatives" ->
      s"""WITH labels AS (SELECT doc_id, cluster_id
            FROM (${graft.queries.Dedup.oracles("d07_dup_clusters")})),
          ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          scored AS (
            SELECT p.vec_id AS anchor_id, e.vec_id AS neg_id,
              $foldCosine AS cosine
            FROM ev p
            JOIN ev e ON p.vec_id < 10 AND e.vec_id <> p.vec_id
            LEFT JOIN labels la ON la.doc_id = p.vec_id
            LEFT JOIN labels lb ON lb.doc_id = e.vec_id
            WHERE la.cluster_id IS NULL OR lb.cluster_id IS NULL
               OR la.cluster_id <> lb.cluster_id)
          SELECT anchor_id, neg_rank, neg_id, cosine FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
              ORDER BY cosine DESC, neg_id)::BIGINT AS neg_rank
            FROM scored) r
          WHERE neg_rank <= 3""",
    "s02_ann_lsh" -> s02Sql,
    // s30/s31: t15's tf-idf CTE chain (the SAME shared string, so the
    // keyword arm's term extractor cannot drift from the t15 gate)
    // feeding the keyword arm; the vector arm is the builder's
    // parameter (s01Sql exact / s02Sql LSH); RRF = 1/(60+rank) summed
    // across the full-outer rank merge
    "s30_hybrid_rrf" -> hybridSql(s01Sql),
    "s31_hybrid_ann_rrf" -> hybridSql(s02Sql),
    // s32: fused-list recall — recallSql's shape over the two fusions
    // (doc_id is the fused key, so the shared builder doesn't apply)
    "s32_hybrid_recall" ->
      s"""WITH exact AS (SELECT probe_id, doc_id FROM (${hybridSql(s01Sql)}) x),
          ann AS (SELECT probe_id, doc_id FROM (${hybridSql(s02Sql)}) y),
          hits AS (SELECT count(*) AS n_hits FROM exact JOIN ann
                   USING (probe_id, doc_id)),
          tot AS (SELECT count(*) AS n_exact FROM exact)
          SELECT n_hits, n_exact,
            n_hits::DOUBLE / n_exact::DOUBLE AS recall_at_5
          FROM hits, tot""",
    "s24_multiprobe_ann" -> s24Sql,
    "s25_multiprobe_recall" -> recallSql(s01Sql, s24Sql),
    "s21_filtered_topk" -> s21Sql,
    "s22_filtered_ann" -> s22Sql,
    "s26_filtered_multiprobe" -> s26Sql,
    "s27_filtered_mp_recall" -> recallSql(s21Sql, s26Sql),
    "s23_filtered_recall" -> recallSql(s21Sql, s22Sql),
    "s05_ann_recall" -> recallSql(s01Sql, s02Sql),
    "s03_ivf_topk" -> ivfSql(sampleWhere = "", nprobe = 1),
    "s28_filtered_ivf" -> ivfSql(sampleWhere = "", nprobe = 1, filtered = true),
    "s29_filtered_ivf_recall" ->
      recallSql(s21Sql, ivfSql(sampleWhere = "", nprobe = 1, filtered = true)),
    "s04_ivf_nprobe2" -> ivfSql(
      sampleWhere = "WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT % 3 = 0",
      nprobe = 2),
    "s06_kmeans_refine" ->
      s"""WITH ev AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
          ${centCte(sampleWhere = "")},
          ${assignCte("a1", "ev", "cent")}
          SELECT cell, count(*) AS n_members,
            sum(CASE WHEN prev <> cell THEN 1 ELSE 0 END)::BIGINT AS n_moved_in
          FROM a1 GROUP BY 1""",
    "s07_kmeans_converge" ->
      s"""WITH ev AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
          ${centCte(sampleWhere = "")},
          ${assignCte("a1", "ev", "cent")},
          ev1 AS (
            SELECT e.vec_id, a1.cell AS label, e.v
            FROM ev e JOIN a1 ON e.vec_id = a1.vec_id),
          ${centCte(sampleWhere = "", src = "ev1", name = "cent2")},
          ${assignCte("a2", "ev1", "cent2")}
          SELECT cell, count(*) AS n_members,
            sum(CASE WHEN prev <> cell THEN 1 ELSE 0 END)::BIGINT AS n_moved_in
          FROM a2 GROUP BY 1""")

  /** One oracle template for both IVF variants — mirrors the single
    * Scala implementation (`ivfTopK`), so a change to the centroid
    * fold or tie-breaks edits one string.
    */
  /** The per-cell ordered-fold mean as a DuckDB CTE — mirrors
    * `cellCentroids` exactly; shared by the IVF oracles and s06's.
    */
  private def centCte(sampleWhere: String, src: String = "ev",
      name: String = "cent"): String =
    s"""$name AS (
          SELECT label, list(dim_sum / n ORDER BY k) AS cv FROM (
            SELECT label, k,
              list_reduce(list_prepend(0.0,
                list_transform(vs, vv -> vv[k])), (a, x) -> a + x) AS dim_sum,
              n
            FROM (SELECT label, list(v ORDER BY vec_id) AS vs, count(*) AS n
                  FROM $src
                  $sampleWhere
                  GROUP BY label),
                 unnest(range(1, 65)) AS u(k)) dims
          GROUP BY label)"""

  /** Argmax-cosine reassignment of `evRel` rows against `centRel`
    * centroids, as a DuckDB subquery — mirrors `reassign` (ties by
    * cell id, identical sequential folds).
    */
  private def assignCte(name: String, evRel: String, centRel: String): String =
    s"""$name AS (
          SELECT vec_id, prev, cell FROM (
            SELECT e.vec_id, e.label AS prev, c.label AS cell,
              row_number() OVER (PARTITION BY e.vec_id ORDER BY
                (list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> e.v[i] * c.cv[i])), (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_prepend(0.0, list_transform(e.v, x -> x * x)), (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_prepend(0.0, list_transform(c.cv, x -> x * x)), (acc, x) -> acc + x)))) DESC,
                c.label) AS crk
            FROM $evRel e CROSS JOIN $centRel c) t
          WHERE crk = 1)"""

  private def ivfSql(sampleWhere: String, nprobe: Int,
      filtered: Boolean = false): String =
    s"""WITH ev AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        ${if (filtered) filterCte + "," else ""}
        ${centCte(sampleWhere)},
        routed AS (
          SELECT probe_id, label AS cell FROM (
            SELECT p.vec_id AS probe_id, c.label,
              row_number() OVER (PARTITION BY p.vec_id ORDER BY
                (list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> p.v[i] * c.cv[i])), (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_prepend(0.0, list_transform(p.v, x -> x * x)), (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_prepend(0.0, list_transform(c.cv, x -> x * x)), (acc, x) -> acc + x)))) DESC,
                c.label) AS crk
            FROM ev p CROSS JOIN cent c WHERE p.vec_id < 10) t
          WHERE crk <= $nprobe),
        scored AS (
          SELECT r.probe_id, e.vec_id AS neighbor_id,
            (list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> p.v[i] * e.v[i])), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(p.v, x -> x * x)), (acc, x) -> acc + x))
              * sqrt(list_reduce(list_prepend(0.0, list_transform(e.v, x -> x * x)), (acc, x) -> acc + x)))) AS cosine
          FROM routed r
          JOIN ev p ON p.vec_id = r.probe_id
          JOIN ev e ON e.label = r.cell AND e.vec_id <> r.probe_id
          ${if (filtered) "JOIN f ON f.doc_id = e.vec_id" else ""})
        SELECT probe_id, rank, neighbor_id, cosine FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) r
        WHERE rank <= 5"""
}
