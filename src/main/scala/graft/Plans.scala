package graft

/** Plan-audit main: prints `explain("formatted")` for representative queries
  * so shuffle shape, pushed filters, read schemas, and broadcast choices can
  * be reviewed (and re-reviewed after changes). Usage:
  *   runMain graft.Plans [sfDir] [query ...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // `all` = EVERY query (the SCALE.md shuffle-inventory set). The
    // Clusters.assign consumers (dedup_clusters, mm_phash_clusters and
    // their capped/persisted forms, dedup_clusters_persisted) run the
    // star-contraction loop's per-round actions while the DataFrame is
    // CONSTRUCTED; what this main then explains is the one
    // post-contraction final tree — the interpretation the inventory
    // documents uniformly, instead of excluding an inconsistent subset
    // (round-12 ADVICE). Per-round plans are dedup_clusters' budgeted
    // cost, audited by the SCALE.md contraction-exponent rows, not here.
    val names = if (args.length > 1 && args(1) == "all")
      SparkEntry.queries.keys.toSeq.sorted
    else if (args.length > 1) args.drop(1).toSeq
      else Seq("cdc_apply_state", "cdc_difflane", "q1_lineitem_agg",
        "q_region_revenue", "dedup_jaccard", "ann_cosine_topk",
        "cdc_evaluate", "cdc_txn_apply", "cdc_commit_floor", "ann_ivf_topk",
        // the bench's heaviest composites + the round-5 join operators
        "cdc_debezium_e2e", "cdc_snapshot_tail", "q_events_asof",
        "q_events_window_pairs", "q_events_salted_join")
    // the bench session (GraftSession), so dumped plans show the shape the
    // bench runs
    val spark = GraftSession.create(4, "graft-plans")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
