package graft

/** Dev tool: dump the formatted physical plan of selected queries so the
  * scale-critical properties are auditable — parquet PushedFilters /
  * ReadSchema (pushdown + pruning), BroadcastHashJoin vs SortMergeJoin,
  * TakeOrderedAndProject for top-k, WholeStageCodegen span coverage.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq(
      "s2_scan_filter", "f2_deadline_window", "o2_topk",
      "q1_pricing_summary", "q3_top_revenue", "q5_nation_revenue",
      "dedup_exact", "dedup_minhash", "ann_bruteforce", "text_stats",
      "text_contamination", "corpus_filter_kept", "emb_semdedup",
      "q_domain_mix",
      // round 9 headliners: correlated semi+anti pair, grouping sets,
      // filtered ANN, the span rewrite, DSIR scoring, retrieval eval
      "q21_sole_blame", "q15_top_supplier", "ann_ivf_filtered",
      "dedup_span_removal", "dsir_weights", "q_rank_eval",
      // round 14: sidecar serving paths (merged sketch / CMS pricing /
      // bloom route-confirm with kp pruning) and the hash-once dedup
      "q_sketch_sidecar", "q_heavy_hitters", "q_bloom_gate",
      "mm_dhash_dedup_indexed", "q_kmv_overlap", "q_sketch_by_group",
      // round 19: the bootstrap's R×-inflated shape — audit that the
      // scan stays 2-column-pruned and the (r) aggregate combines
      // map-side before the exchange
      "q_bootstrap_ci",
      // round 20: the quantile twin — audit that the plan holds ONE
      // Sort+Window subtree over the inflated frame (the sentinel
      // point-estimate rides conditional aggregates; a second branch
      // would re-sort everything) and ONE exchange keyed by __r
      "q_bootstrap_quantile")
    val spark = LocalSession()
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
