package graft

import org.apache.spark.sql.SparkSession

/**
 * Tuned SparkSession factory: one place for the engine's scale-relevant
 * defaults so every entry point (CLI, Verify, Bench, consumer) runs the
 * same configuration.
 *
 * Rationale per knob (targets: local[32] here, 1000-executor cluster at
 * 100 TB with the same relative settings):
 *  - AQE on + coalesce + skew-join: runtime re-plan fixes stats misses at
 *    scale; skewed SMJ partitions split automatically.
 *  - shuffle.partitions: cores locally; at cluster scale set to 2-3x total
 *    cores (the env override is the knob).
 *  - files.maxPartitionBytes 128m: keeps scan tasks memory-bounded no
 *    matter the input file layout.
 *  - autoBroadcastJoinThreshold 64m: all TPC-H-style dims broadcast; at
 *    100 TB the fact side never does.
 *  - session UTC + parquet nanosAsLong: deterministic timestamps (suite
 *    uses TIMESTAMP(NANOS) inputs).
 */
object GraftSession {
  def builder(appName: String): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // NOTE (round-17 audit, guide §3.1/§9): AQE's SMJ->SHJ conversion
      // (`spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m`)
      // was measured per-query on every SMJ-bearing suite query
      // (q88/q98 anti, q114 full-outer, q87/q104 RRF tails, q26/q35/q03)
      // over interleaved A/B JVMs: NO delta outside noise at sf0.1 — the
      // suite's shuffle joins are either bounded ranking tails above
      // TakeOrdered or match-set-sized, where the sort is sub-100 ms.
      // Left at the upstream default (0 = off) rather than shipping an
      // unmeasurable behavior change; a STATIC preferSortMergeJoin=false
      // flip stays off too (the planner would pick SHJ from estimates,
      // which OOMs the vector-carrying self-joins — the r13 probe).
      .config("spark.sql.files.maxPartitionBytes", s"${128 * 1024 * 1024}")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // RocksDB state store: required by transformWithState, and the right
      // scale default for every stateful op — off-heap state, incremental
      // SST-changelog checkpoints vs full-snapshot rewrites
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
  }

  def get(appName: String): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
