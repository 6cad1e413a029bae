package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-aware defaults this engine assumes.
  *
  * Local testing runs `local[N]` in one JVM; the settings are chosen so the
  * same logical plans survive a 1000-executor cluster: AQE on (runtime
  * partition coalescing + skew-join splitting), shuffle partitions sized to
  * the parallelism actually available (not the 200 default), UTC everywhere
  * so results are reproducible against external oracles.
  */
object GraftSession {
  /** One cache-hygiene sweep per JVM, at session construction — the one
    * moment no query can be concurrently reading a cache entry (r10
    * verdict item 7: the result-cache dir grows without bound across
    * rounds). Budgeted LRU over committed entries + stale-debris
    * removal; see [[ResultCache.sweep]]. */
  private lazy val sweepOnce: Unit = {
    ResultCache.sweep(ResultCache.defaultDir, ResultCache.defaultBudgetBytes)
    ()
  }

  def builder(cores: Int, shufflePartitions: Int): SparkSession.Builder = {
    sweepOnce
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // autoBroadcastJoinThreshold stays at the Spark default. A
      // round-16 subset A/B initially read 64 MB as −5% and was
      // reverted; the r16 plan evidence was initial plans only
      // (isFinalPlan=false — the old PlanDump exec mode never ran the
      // dumped QueryExecution, r16 advice), so r17 re-ran the dump
      // with the FIXED exec mode: the EXECUTED final adaptive plans
      // (plans/r17/*_bcast{10,64}.txt, isFinalPlan=true) are
      // structurally identical at 10 vs 64 MB on all nine join-heavy
      // queries (only plan_id counters differ) — no AQE runtime flip
      // either, so the retraction stands on real evidence. Env
      // override retained for dumps/A-Bs.
      .config("spark.sql.autoBroadcastJoinThreshold",
        (sys.env.getOrElse("SPARK_GRAFT_BCAST_MB", "10").toLong << 20).toString)
      // AQE post-shuffle coalescing A/B knobs (optimization r17, 32-core
      // anti-scaler triage — q18_except_cust ran 4.3x FASTER on 8 cores
      // in BENCH_r16_c8): with parallelismFirst=true (Spark default)
      // AQE coalesces only down to minPartitionSize (1 MB) to maximize
      // parallelism, so a KB-sized shuffle still fans out to ~cores
      // partitions and sub-second queries pay 32-way task overhead.
      // Spark's own docs recommend setting it false so the advisory
      // size governs. Defaults here stay the Spark defaults; the env
      // overrides exist for the measured A/B (see OPTIMIZATION_r17.md).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_AQE_PFIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (sys.env.getOrElse("SPARK_GRAFT_ADVISORY_MB", "64").toLong << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
      // The events table carries TIMESTAMP(NANOS) parquet, which Spark
      // rejects by default; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Let a bucketed+sorted scan REPORT its sort order. Despite the
      // "legacy" name this is sound: Spark only claims the order after
      // verifying ≤1 file per bucket (multi-file buckets interleave and
      // get no claim); it is off by default only because the
      // files-per-bucket check adds planning-time listing. Our
      // ingest-once layouts (Sinks.bucketedTable with sortCols) write
      // exactly one sorted file per bucket, and the claim is what lets
      // the as-of merge exec plan with ZERO Exchange and ZERO Sort over
      // them (adv_asof_join_bucketed asserts that plan in-query).
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // Scheme alias for CHECKSUM-FREE local file access (optimization
      // r17, guide §6): Hadoop's default file:// is ChecksumFileSystem,
      // so every tiny streaming-checkpoint write (offset log, commit
      // log, state-store delta) also creates+writes a .crc twin —
      // pure overhead on the THROWAWAY tmpfs checkpoints the parity
      // harness uses (StreamParity.ckptRoot). Registering the scheme
      // is inert by itself; StreamParity opts in per checkpoint path.
      .config("spark.hadoop.fs.rawlocal.impl",
        "graft.sources.RawLocalCkptFs")
      // FileContext file system of file:// paths, i.e. of every local
      // streaming checkpoint (offset log, commit log, state-store
      // deltas): stock LocalFs without libhadoop starts a chmod process
      // per file create and four readlink processes per rename (file
      // and .crc). In one event_stream benchmark run (--seconds 25, 4
      // cores) JFR counted 7,632 of them (6,096 readlink, 1,536 chmod;
      // 80% on the state-store commit threads) without this line and 0
      // with it (plans/nofork_ckpt/). Same bytes, .crc twins,
      // permissions and atomic rename; only the syscall route changes.
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.sources.LocalFsNoFork")
      .config("spark.ui.enabled", "false")
  }

  def local(cores: Int = 4): SparkSession = {
    val s = builder(cores, cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Production-cluster settings (documented contract; `master`/executor
    * sizing come from spark-submit). The same logical plans run
    * unchanged — these knobs only size the physical execution for a
    * multi-TB corpus on hundreds of executors:
    *
    *   - shuffle partitions ≈ 2–3 × total cores (AQE coalesces down, so
    *     err high; one partition must fit in executor memory after
    *     filters — at 100 TB input and 10⁴ partitions that's ~10 GB
    *     pre-filter, so raise to 10⁵ or rely on AQE's advisory size),
    *   - 128 MiB split size keeps task count ≈ input/128Mi and matches
    *     parquet row-group granularity,
    *   - AQE advisory 64 MiB targets post-shuffle partition sizes,
    *   - speculation re-runs stragglers (the reference's P3,
    *     `jobtracker.py:414-499`, as one config line).
    */
  def clusterBuilder(totalCores: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", (totalCores * 3).toString)
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (64L << 20).toString)
      .config("spark.speculation", "true")
      // same sorted-bucket-scan ordering claim as builder() — the
      // cluster is where the ingest-once zero-exchange/zero-sort as-of
      // layout actually pays
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // same rawlocal:// registration as builder(): inert unless a
      // path opts into the scheme (StreamParity's ephemeral
      // checkpoints do; durable checkpoints never should)
      .config("spark.hadoop.fs.rawlocal.impl",
        "graft.sources.RawLocalCkptFs")
      // same fork-free FileContext file:// as builder(), for
      // checkpoints on a node-local path
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.sources.LocalFsNoFork")
      .config("spark.sql.session.timeZone", "UTC")
}
