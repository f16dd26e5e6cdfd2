package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dumps `explain("formatted")` at SPARK_GRAFT_SF_DIR
  * (default sf0.01) under the Bench session (see [[Session.build]]):
  *
  *   runMain graft.Plans                       # regenerate PLANS.md
  *   runMain graft.Plans <out-dir> <query>...  # <out-dir>/<query>.txt
  *
  * PLANS.md is the plan-quality evidence (pushdown, broadcast, partial
  * agg, TakeOrderedAndProject) for the headline queries; the per-query
  * dumps are before/after evidence for a plan change. AQE is on, so each
  * plan is the initial `AdaptiveSparkPlan` (isFinalPlan=false) — the
  * one the bench executes, before its runtime re-optimization.
  */
object Plans {
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_project", "q03_broadcast_join_agg",
    "q04_multi_join_revenue", "q08_global_topk", "q24_asof_join",
    "d03_minhash_lsh", "s01_cosine_topk", "st02_sessionize",
    "t08_textcat", "q44_funnel_timeout", "q48_lang_cap",
    "s06_kmeans_refine", "d08_incremental_dedup", "q50_gap_fill",
    "d09_ngram_decontam", "d10_simhash_band_pairs", "t11_repetition",
    "s09_rproj_ann", "q52_salted_join", "s10_sq_ann", "q55_dynamic_pruning",
    "d12_containment_pairs", "p02_semdedup",
    "p01_corpus_build",
    "q59_cohort_retention", "q62_xml_roundtrip", "m05_binary_ingest",
    "t13_term_scrub",
    "d13_containment_prefix", "p03_mix_to_budget", "s13_pq_refined",
    "s14_ivfpq_ann", "p04_leak_safe_split",
    "t15_tfidf", "t16_zipf_slope", "s16_rerank_ann", "m06_phash_dedup",
    "s21_filtered_topk", "s22_filtered_ann", "s24_multiprobe_ann",
    "s26_filtered_multiprobe", "s28_filtered_ivf", "s30_hybrid_rrf",
    "p09_canonical_keep",
    "t17_bigram_ppl", "p05_temperature_mix",
    "q64_distribution_rank", "s19_radius_lsh", "t18_char_entropy",
    "e03_distribution_drift",
    "q65_exact_quantiles", "q66_lateral_topk", "p06_shard_manifest",
    "d16_simhash_calibration", "m09_av_align",
    // e05 is deliberately absent: its returned frame is a driver-
    // local trajectory (LocalTableScan — nothing to audit) and the
    // dump would pay the full training loop; e06 shows the shape
    "p07_zorder_layout", "e06_lr_quality_score",
    "d17_cdc_chunk_overlap", "q67_market_share",
    "q68_recursive_clusters", "q69_variant_json", "p08_weighted_sample",
    "q70_pipe_syntax", "q71_group_by_all", "e08_negative_sampling",
    "e09_hard_negatives", "e10_split_contamination",
    "s31_hybrid_ann_rrf", "mr08_write_sink",
    // st27's auditable surface is the post-refresh readback: the
    // survivors-capped pair aggregate over the refreshed store (the
    // ingest/fold phases are actions, not a returned plan)
    "st27_cdc_refresh")

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.build()
    def plan(name: String): String =
      try SparkEntry.queries(name)(spark, d).queryExecution.explainString(FormattedMode)
      finally spark.catalog.clearCache() // see Bench.exec
    args.toList match {
      case Nil =>
        val sb = new StringBuilder
        sb ++= s"# PLANS — physical plans of headline queries (${Paths.get(d).getFileName}, " +
          "AQE on: initial adaptive plans)\n\n"
        sb ++= "Regenerate: `sbt \"runMain graft.Plans\"`. What to look for per query\n"
        sb ++= "is noted inline; EngineSpec asserts the load-bearing properties.\n"
        for (name <- headline)
          sb ++= s"\n## $name\n\n```\n${plan(name)}```\n"
        Files.writeString(Paths.get("PLANS.md"), sb.toString)
        println("[plans] wrote PLANS.md")
      case out :: names =>
        val dir = Files.createDirectories(Paths.get(out))
        for (name <- names) {
          Files.writeString(dir.resolve(s"$name.txt"), plan(name))
          println(s"[plans] wrote $out/$name.txt")
        }
    }
    spark.stop()
  }
}
