package perfbench

/** The benchmark's workloads: which library entry points each one runs and
  * which layer (module under `graft/`) each query is charged to. */
object Workloads {

  val Batch = "query_batch"

  /** The batch workload's queries, trimmed so that a full measurement
    * campaign fits its time budget with one warm-up pass plus at least four
    * timed passes per run. It keeps the queries that carry each layer's
    * mechanisms (see perfbench/METRICS.md). */
  val Queries: Seq[String] = Seq(
    // cdc: log capture, merge-apply, snapshot, broker delivery
    "cdc_log_capture", "cdc_apply_state", "cdc_snapshot", "cdc_broker_delivery",
    // sources: parquet pushdown; operators: sessions
    "q_part_pushdown", "q_events_sessions",
    // llm: star-contraction rounds over decoded images, in-query k-means
    // training, a 64k-floor residue query
    "mm_phash_clusters", "ann_ivf_balance", "ann_decontaminate")

  val Stream = "changefeed_stream"

  /** Layers measured from outside the library. `functions` is reached only
    * through `llm`, so the two share one figure. */
  val Layers: Seq[String] = Seq("cdc", "llm", "operators", "sources")

  def layerOf(query: String): String =
    if (query.startsWith("cdc_")) "cdc"
    else if (query.startsWith("dedup_") || query.startsWith("ann_") || query.startsWith("mm_")) "llm"
    else if (query.startsWith("events_") || query.startsWith("q_events_")) "operators"
    else "sources"

  /** Change-feed settings. Each drain rep loads `BaseEvents` into a fresh
    * query's state, untimed, then times the drain of `BacklogEvents`;
    * `WarmReps` untimed reps come first. The drain phase takes `DrainShare`
    * of the run's seconds and at least `MinReps` reps (a traced run: half as
    * many traced and half as many untraced), the paced phase the rest. The offered rate of the paced phase sits well below the
    * measured drain rate, so the paced phase shows latency at a sustainable
    * load rather than queueing. */
  object Feed {
    val Tables = 3
    val KeysPerTable = 25000
    val BaseEvents = 5000
    val BacklogEvents = 10000
    val WarmReps = 2
    val MinReps = 6
    val DrainShare = 0.625
    val OfferedEps = 500
  }
}
