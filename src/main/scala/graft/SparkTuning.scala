package graft

/** Session-level shuffle tuning. [[GraftSession]] applies it, so every
  * graft entrypoint (Bench, Verify, Main/CLI, QProbe, the test suite)
  * gets the same writer threshold.
  *
  * bypassMergeThreshold (r17 optimization round, guide §1/§2.2): the
  * r16 driver capture collapsed 2.5-5× on the heavy iterative rows at
  * 32 cores (q120/q166/q172/q187/q191, task-GC spikes to 57 s) while
  * the same binary ran FASTER at 8 cores. The all-thread stack sampler
  * named the mechanism: `BypassMergeSortShuffleWriter
  * .writePartitionedDataWithChannel → Utils.copyFileStreamNIO →
  * FileChannelImpl.transferTo → map0/unmap0` — every ≤200-partition
  * exchange takes Spark's bypass writer, which writes ONE FILE PER
  * REDUCE PARTITION per map task and then concatenates the 32 pieces
  * into the final data file with `FileChannel.transferTo`, which on
  * the tmpfs scratch tier falls back to an mmap copy. 32 concurrent
  * map tasks × 32 map/unmap cycles each contend the process
  * address-space lock (TLB shootdowns scale with thread count — the
  * 8-core-faster-than-32 signature) and the mapped-buffer churn
  * drives direct-memory reservation GC. Forcing the sort path
  * (threshold 0 → UnsafeShuffleWriter for SQL exchanges) writes one
  * spill-free file per map task, no concatenation, no mmap.
  *
  * Measured (heavy-five bench subset, sf0.1, local[32], 5 repeats,
  * quiet windows): 28.9 s → 18.8 s summed medians (q187 11.0 → 5.8,
  * q120 6.7 → 4.5, q172 6.3 → 4.1), per-repeat task GC 1.7-4.3 s →
  * 0.2-1.5 s, map0/unmap0/write0 gone from the sampler's top frames;
  * at 8 cores the same five read 31.9 → 23.9 s — both core counts
  * improve, so this is not a 32-core-only tuning. SCALE-CONSISTENT,
  * not local-mode-tuned: a production 100 TB exchange runs well over
  * 200 reduce partitions, where Spark never picks the bypass writer —
  * this makes local mode exercise the same serialized sort writer the
  * cluster uses. Env-overridable for A/B (`SPARK_GRAFT_BYPASS_MERGE`,
  * e.g. `200` restores Spark's default).
  *
  * The default is 4, not 0: the stateful streaming replays run their
  * micro-batch shuffles at 2 partitions
  * (`EventStream.ReplayPartitions`, which a spec keeps ≤ this
  * threshold), and a same-window A/B on the stream-join family read
  * threshold 0 ≈ +0.6 s/query vs 4 ≈ Spark's default — the serialized
  * writer's fixed per-task setup (page allocation + in-memory sort)
  * outweighs a 2-file concat, whose mmap churn is negligible at that
  * width (the pathology scales with files × concurrent writers). Any
  * exchange at ≥ 5 partitions — batch plans at every bench core count
  * — still takes the serialized writer. */
object SparkTuning {
  lazy val bypassMergeThreshold: String =
    sys.env.getOrElse("SPARK_GRAFT_BYPASS_MERGE", "4")
}
