package graft

import org.apache.spark.sql.SparkSession

/** The one definition of the Spark session graft runs under: Bench, Verify,
  * the diagnostic mains and the test session all build from it, so the
  * plans the tests pin and the hashes Verify attests are the ones the bench
  * times.
  *
  * Partitioning: AQE with shuffle-partition coalescing, also inside
  * cached-plan materialization (`canChangeCachedPlanOutputPartitioning`).
  * Off, every `persist()`ed lineage compiles without coalescing, so
  * droplet-sized cached frames materialize at full `shuffle.partitions`
  * width and every downstream stage inherits it — ~200-400 ms of task
  * launch per 32-task stage over ~1 ms of work in the persist-bearing
  * composites (cdc_snapshot_tail et al.), and the 32-core anti-scaling
  * family. Safe for results: the only partition-sensitive operators
  * (GlobalOrder's spark_partition_id over repartitionByRange; MetricsAgg's
  * local pre-prune) are invariant under AQE's adjacent-range coalescing.
  * The coalescing floor is 64k instead of Spark's 1m: at 1m, CPU-dense
  * small-byte stages under-parallelize (dedup_verify_capped's
  * candidate-intersect stage coalesced to 1 task, 6.1 s, at the 10x slice;
  * 64k restores 16 tasks, 2.0 s) while droplet-sized caches still collapse
  * to one partition. `SPARK_GRAFT_MIN_PART_SIZE` overrides it for cluster
  * tuning.
  *
  * Codegen is strict (`codegen.fallback=false`): a whole-stage compile
  * failure fails the query instead of silently running interpreted.
  *
  * Streaming: every keyed-state operator is a `transformWithState`
  * processor ([[graft.streaming.StreamsV2]]), which requires the RocksDB
  * state store provider; changelog checkpointing makes a micro-batch
  * commit write the state delta instead of a full snapshot. Checkpoint-file
  * checksums are off: Spark 4.1 writes them asynchronously, and that
  * commit path has been seen never to complete on a state-delta write.
  */
object GraftSession {

  /** The session settings for `cores` local threads (one shuffle partition
    * per core). */
  private def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      sys.env.getOrElse("SPARK_GRAFT_MIN_PART_SIZE", "64k"),
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")

  /** A `local[cores]` session with [[settings]]; `overrides` apply on top
    * (diagnostic A/B runs only). */
  def create(cores: Int, appName: String,
      overrides: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName(appName)
    (settings(cores) ++ overrides).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
