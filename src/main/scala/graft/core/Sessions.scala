package graft.core

import org.apache.spark.sql.SparkSession

/** One place for engine session tuning (all mains + tests go through here).
  *
  * - shuffle.partitions = 32: the local-mode contract (matches cores; at
  *   cluster scale this becomes executors × cores and AQE re-plans anyway).
  * - AQE on with `parallelismFirst=true` (the Spark default, restored after
  *   a measured regression): with parallelism-first, AQE coalesces a
  *   post-shuffle stage only down to `max(totalBytes / defaultParallelism,
  *   minPartitionSize)` — stage width tracks available cores until the data
  *   genuinely shrinks. Targeting `advisoryPartitionSizeInBytes` instead
  *   (`parallelismFirst=false`, tried in round 2) serialized every
  *   window/sort-heavy stage: those stages are CPU-bound per row but small
  *   in compressed bytes, so a byte-size target starves them of cores
  *   (measured 3-6x slowdown on as-of/lag/frame queries at 10x scale).
  * - minPartitionSize 64k, not the 1 MB default, for the same reason: the
  *   1 MB floor re-introduces under-parallelism exactly on the CPU-dense
  *   stages (a 12 MB compressed window input coalesced to 1 MB chunks is
  *   12 tasks on 32 cores). 64k keeps sub-64k stages collapsing to one
  *   task (the trivial-query latency win) while CPU-bound mid-size stages
  *   get full width. At 100 TB the `totalBytes / parallelism` term
  *   dominates and both knobs are inert — they only govern the small end.
  */
object Sessions {
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString),
      appName: String = "graft"): SparkSession = {
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "on") != "off"
    val s = SparkSession.builder()
      // the engine's own sessions carry its SQL surface natively: injected
      // functions (cosine_sim, top_k_by, ...) plus the conf-gated
      // RangeJoinRewrite optimizer rule. Only the FIRST session creation in
      // a JVM applies extensions (getOrCreate reuses otherwise) — every
      // main and every spec builds through here, so that is this line.
      .withExtensions(new graft.GraftExtensions()(_))
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      // FAIR so concurrent driver threads (JobRunner.runAllParallel) share
      // executors instead of queueing whole jobs FIFO; no effect on
      // single-job runs
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // autoBroadcastJoinThreshold stays at the 10 MB DEFAULT deliberately.
      // Raising it to 32 MB was tried (it converts the mid-size-dim SMJ of
      // q14 into a BHJ) and reverted: the planner compares the threshold
      // against a size ESTIMATE (file bytes x column-pruning ratio, filters
      // not discounted), and at 10x scale that estimate let a FILTERED
      // 3M-row fact table slip under the bar — a 2.7 s broadcast build of
      // lineitem in q39. Intentional mid-size-dim broadcasts are expressed
      // per-join with an explicit broadcast() hint instead (q14, q39):
      // the author knows the true post-filter cardinality; the estimator
      // does not.
      .config("spark.sql.session.timeZone", "UTC")
      // Parquet timestamps WITHOUT isAdjustedToUTC (plain `timestamp[us]`,
      // what pandas/pyarrow write by default) read as TIMESTAMP_NTZ under
      // Spark 4's default inference. The engine's contract is
      // instant-semantics UTC throughout (session TZ above, mirroring the
      // reference's tz=utc transform), and the DuckDB oracle reads the same
      // files as naive-UTC TIMESTAMP — so pin inference to TimestampType.
      // Wall-clock values are identical under UTC; this only picks the type.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
