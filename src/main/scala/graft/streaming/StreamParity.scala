package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.util.concurrent.atomic.AtomicLong

/** DECLARED batch-parity queries that execute through the Structured
  * Streaming code paths (round-9 verdict item: the streaming surface
  * was spec-only — local `sbt test` proved semantics, but nothing in
  * the driver's CORRECTNESS sweep regressed them). Each query here
  * streams a corpus table through a real streaming operator
  * ([[DedupStreams]]) with `Trigger.AvailableNow` into a memory sink,
  * then returns the sink as a plain DataFrame — so the driver's
  * DuckDB hash gate now pins STREAM semantics, not just batch twins.
  *
  * Determinism discipline: `dropDuplicatesWithinWatermark` keeps the
  * FIRST arrival per key, and file-source row order inside a
  * micro-batch is not contractual — so these queries project the KEY
  * SET only (which is batch-replayable: the set of surviving keys is
  * independent of which representative survived). Event time is a
  * constant literal, so no row is ever late regardless of how
  * AvailableNow slices the input into micro-batches, and the output
  * is the same whether the source arrives as 1 batch or 100.
  *
  * 100 TB shape: these are the operators' OWN plans —
  * watermark-bounded key state (never the corpus), stream-static
  * joins that read (not shuffle) the static side; the memory sink is
  * the verification harness, production writes parquet/Kafka
  * ([[graft.sources.Sinks]]). */
object StreamParity {
  type Q = (SparkSession, String) => DataFrame

  private val runSeq = new AtomicLong(0L)

  /** State-store partition sizing for the parity harness. Stateful
    * streaming partition count is FIXED at stream start (persisted in
    * the checkpoint), and every partition is a separate state store
    * paying per-batch commit + snapshot maintenance. The session
    * default (= cores) makes a 32-store fleet hold a few thousand keys
    * each on these corpora — pure fixed overhead, multiplied by the
    * micro-batch count in the multi-batch queries. State partitions
    * are a DATA-cardinality knob, not a core-count knob (a production
    * deployment sizes them from expected keys per store); the harness
    * sets 4, and the declared answers are partition-count-invariant —
    * which is exactly what the shared batch oracles pin.
    *
    * 8 → 4 (optimization r17, guide §2.1/§5; VERDICT r16 item 1):
    * every micro-batch of every stateful query pays one state-store
    * commit per partition — pure fixed overhead at these per-store
    * cardinalities. `StreamFloorProbe` at 8/4/2 on st_asof_join_mb
    * reads per-batch stateCommit SUMS of 3063/1182/400 ms (the
    * mechanism), and the two isolated 10-query A/Bs (controls
    * co-located) read the st subset ×0.93 at 4 vs 8 (7 of 10 queries
    * ≥5% faster; one counter-mover, st_sessions_changelog +6%
    * isolated, accepted against the family-wide gain; 2 showed no
    * further gain over 4 and lost on the session family). Still a
    * DATA-cardinality knob, not a core-count one — a production
    * deployment sizes it from expected keys per store; env override
    * for A/Bs. */
  private val StatePartitions =
    sys.env.getOrElse("SPARK_GRAFT_STATE_PARTS", "4").toInt

  /** Serializes every set/start/restore sequence (round 11, advice):
    * declared queries run CONCURRENTLY on one shared session, and two
    * overlapping save/set/restore windows can interleave so that the
    * second "restore" re-installs the first call's override —
    * permanently pinning the session at [[StatePartitions]] for every
    * later batch query. A stream clones its conf inside `start()`, so
    * holding the lock across `f` (which always includes the `start()`)
    * is sufficient; `awaitTermination` runs OUTSIDE the caller's `f`,
    * so the lock is held for milliseconds, not the stream's lifetime. */
  private val statePartitionsLock = new Object

  /** Set streaming-scoped session confs around a `start()` under the
    * shared lock, restoring (or unsetting) the prior values after —
    * the general form of [[withStatePartitions]], also used to swap
    * the state-store provider for the RocksDB parity run. */
  private def withStreamConfs[T](s: SparkSession, confs: (String, String)*)(
      f: => T): T =
    statePartitionsLock.synchronized {
      val olds = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try f finally olds.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }

  private def withStatePartitions[T](s: SparkSession)(f: => T): T =
    withStreamConfs(s,
      "spark.sql.shuffle.partitions" -> StatePartitions.toString)(f)

  /** Skip the TRAILING NO-DATA micro-batch for queries whose sink
    * output never depends on it (optimization r17, guide §1.2 "don't
    * compute things you throw away"; the r17 `StreamFloorProbe`
    * decomposition shows every stateful parity query ending with an
    * `in=0` batch costing the full per-batch floor — 0.73 s of
    * st_interval_join's 2.50 s in `plans/r17/stream_floor_trailing_run.txt`,
    * 0.96 s of st_asof_join_mb's 6.76 s in `plans/r17/stream_floor_parts4.txt`).
    * Spark runs that batch (`noDataMicroBatches.enabled`, default
    * true) so watermark-gated operators can EMIT and EVICT after the
    * last data batch; that is load-bearing exactly for append-mode
    * watermark-flushed output (session windows, the as-of argmax,
    * outer-join NULL emission) and for the EventTimeTimeout machines
    * (timeout path may fire there) — those queries keep the default.
    * For the rest — `dropDuplicatesWithinWatermark` (emits on
    * arrival), update-mode window aggregates (emit per data batch),
    * inner/semi interval joins (emit in the batch completing the
    * pair) — the trailing batch only evicts state the harness is
    * about to throw away with the whole ephemeral checkpoint, so the
    * sink table is IDENTICAL with or without it (oracle-verified for
    * all 16 affected queries). Production continuous streams never
    * see a "final" batch at all — this is a verification-harness
    * shutdown knob, not a semantics knob. Env override runs the
    * Spark default for A/Bs. */
  private val SkipTrailingNoDataBatch =
    envChoice("SPARK_GRAFT_TRAILING_BATCH", Seq("skip", "run")) == "skip"

  /** Value of the A/B knob `name`: the first of `accepted` when unset,
    * and a loud failure on any value outside `accepted`, so a typo
    * cannot silently select the other arm. */
  private[streaming] def envChoice(name: String, accepted: Seq[String],
      env: collection.Map[String, String] = sys.env): String =
    env.get(name) match {
      case None                            => accepted.head
      case Some(v) if accepted.contains(v) => v
      case Some(v) =>
        sys.error(s"$name=$v: accepted values are ${accepted.mkString(", ")}")
    }

  private def noDataBatchConfs(watermarkFlush: Boolean): Seq[(String, String)] =
    if (!watermarkFlush && SkipTrailingNoDataBatch)
      Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    else Seq.empty

  /** Ephemeral checkpoint root for the parity harness (OPTIMIZATION
    * r16, guide §6): every query here creates a THROWAWAY streaming
    * checkpoint — offset log, commit log, and one state-store delta
    * tree per micro-batch — and the per-batch floor decomposition
    * (`tools/StreamFloorProbe`) showed those commits paying
    * file-create + fsync + rename on ext4 `/tmp` (state-store
    * commitTimeMs summing 2-3 s per micro-batch across the 8-store
    * fleet, vs ~40 ms each for the wal/offset logs). That is pure
    * scaffolding I/O: each parity run starts a fresh query and never
    * restarts it, so checkpoint durability buys nothing (restart
    * recovery is separately pinned by `CheckpointRecoverySpec` on its
    * own explicit durable dirs). Route the harness checkpoints to
    * tmpfs (`/dev/shm`) when present, falling back to `java.io.tmpdir`;
    * override with SPARK_GRAFT_STREAM_CKPT_DIR. A production
    * deployment points checkpoints at durable shared storage — a
    * recovery-contract decision, not a verification-harness one. */
  private[graft] val ckptRoot: String = {
    // PROCESS-UNIQUE root (r16 advice): per-query dir uniqueness came
    // only from the per-JVM runSeq counter, so two concurrent graft
    // processes (bench + a probe) could generate identical dirs like
    // `st_sessions_1` and rmTree each other's LIVE streaming
    // checkpoints mid-query. The pid segment restores the no-collision
    // property Spark's per-query random temp dir had; the whole root
    // is deleted on JVM exit so tmpfs never accumulates dead roots.
    val base = sys.env.getOrElse("SPARK_GRAFT_STREAM_CKPT_DIR", {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-stream-ckpt"
      else sys.props.getOrElse("java.io.tmpdir", "/tmp") +
        "/graft-stream-ckpt"
    })
    val root = s"$base-${ProcessHandle.current.pid}"
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      rmTree(new java.io.File(root))))
    root
  }

  private def rmTree(p: java.io.File): Unit = {
    if (p.isDirectory && !java.nio.file.Files.isSymbolicLink(p.toPath))
      Option(p.listFiles).foreach(_.foreach(rmTree))
    p.delete(); ()
  }

  /** Hand the throwaway checkpoints to the CHECKSUM-FREE local FS
    * ([[graft.sources.RawLocalCkptFs]], scheme registered in
    * GraftSession): the default `file://` is ChecksumFileSystem, so
    * every offset-log, commit-log and state-delta write pays a `.crc`
    * twin (create + write + rename doubled) — pure overhead on a
    * tmpfs tree that lives for one query and is deleted on completion
    * (see the class doc for why production durable checkpoints are a
    * different story). Both schemes run on the fork-free raw file
    * system ([[graft.sources.NoForkRawLocalFileSystem]]). Env override
    * runs the checksummed default for A/Bs. */
  private val ckptScheme =
    if (envChoice("SPARK_GRAFT_CKPT_FS", Seq("raw", "default")) == "raw") "rawlocal://"
    else ""

  /** Run `f` with a fresh per-query checkpoint dir under [[ckptRoot]],
    * deleting it afterwards (success or failure) so tmpfs never
    * accumulates sweep debris. The query name is already uniqued per
    * run ([[runSeq]]), so concurrent declared queries never collide.
    * `f` receives the dir as a [[ckptScheme]]-qualified URI; cleanup
    * always runs on the plain local path. */
  private def withEphemeralCkpt[T](qn: String)(f: String => T): T = {
    val dir = s"$ckptRoot/$qn"
    rmTree(new java.io.File(dir))
    try f(s"$ckptScheme$dir") finally rmTree(new java.io.File(dir))
  }

  /** documents.parquet as a STREAM: the file source (the continuous-
    * ingest entry point — a crawl drop-directory at scale), with a
    * constant literal event time (see determinism note above). The
    * declared schema is SNIFFED from the batch reader's footer (the
    * [[streamEvents]] discipline): a hardcoded schema would paper
    * over generator drift with silent nulls, where the sniff makes
    * the stream see exactly what batch readers see. */
  /** The `[t]` trick below turns the path into a glob; if the sf dir
    * itself contained glob metacharacters the glob would silently
    * match zero files and yield an EMPTY stream (r9 advice) — fail
    * loudly instead. */
  private def requireGlobSafe(d: String): Unit =
    require(!d.exists("[]{}*?".contains(_)),
      s"corpus dir '$d' contains glob metacharacters; the file-stream " +
        "source path would silently match nothing")

  private def streamDocs(s: SparkSession, d: String): DataFrame = {
    requireGlobSafe(d)
    val onDisk = s.read.parquet(s"$d/documents.parquet").schema
    // documents.parquet is a single FILE in the test corpora; for a
    // NON-glob path the file stream source force-injects
    // `basePath = path`, which must be a directory → error. A glob
    // path suppresses that injection, and the explicit basePath keeps
    // partition discovery rooted at the sf dir.
    s.readStream.schema(onDisk).option("basePath", d)
      .parquet(s"$d/documents.parque[t]")
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .select("doc_id", "ts", "text")
  }

  /** documents as a FORCED MULTI-BATCH stream: the corpus is
    * materialized once (keyed, `_SUCCESS`-committed — the
    * [[graft.ResultCache]] discipline) as `MultiBatchFiles` parquet
    * files, and the file source takes `maxFilesPerTrigger=1`, so
    * AvailableNow processes ≥ `MultiBatchFiles` micro-batches instead
    * of the single-file corpora's one. This is the drop-directory
    * ingest shape a crawl feed has at 100 TB, and it closes the r9
    * caveat (`single-file ⇒ one micro-batch`): cross-batch DEDUP STATE
    * is now exercised under the oracle — batch 2's rows must be
    * deduped against batch 1's watermark-held keys, not just within
    * their own batch. Constant event time keeps every slicing
    * equivalent (nothing is ever late), which is exactly why the
    * key-set projection is batch-replayable. */
  private[graft] val MultiBatchFiles = 4
  private[graft] def streamDocsMultiBatch(s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.Tables.documents(s, d)
    val cacheDir =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-result-cache"
    val (dir, _) = graft.ResultCache.materializeKeyed(
      s"streamSplitDocs/$MultiBatchFiles/v1", Seq(base), cacheDir)(
      base.repartition(MultiBatchFiles, pmod(col("doc_id"), lit(MultiBatchFiles))))
    s.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .select("doc_id", "ts", "text")
  }

  /** Run a streaming frame to completion (AvailableNow: process every
    * available input, then stop — the incremental-batch trigger) and
    * hand back the sink table. The query name is uniqued per run so a
    * warm-up execution and the timed execution in one session never
    * collide on the sink registration. */
  private def runToTable(df: DataFrame, name: String,
                         mode: String = "append",
                         watermarkFlush: Boolean = true): DataFrame =
    runToTableCounted(df, name, mode, watermarkFlush)._1

  /** As [[runToTable]], also reporting how many micro-batches actually
    * executed (from the query's progress log) — the multi-batch specs
    * assert ≥2 so "multi-batch parity" can never silently degrade to a
    * one-batch run. awaitTermination is BOUNDED (r9 advice): a wedged
    * AvailableNow stream fails loudly after 5 min instead of hanging
    * the whole bench/correctness sweep. */
  private[graft] def runToTableCounted(df: DataFrame, name: String,
                         mode: String = "append",
                         watermarkFlush: Boolean = true): (DataFrame, Int) = {
    val qn = s"${name}_${runSeq.incrementAndGet()}"
    withEphemeralCkpt(qn) { ckpt =>
      val confs =
        Seq("spark.sql.shuffle.partitions" -> StatePartitions.toString) ++
          noDataBatchConfs(watermarkFlush)
      val q = withStreamConfs(df.sparkSession, confs: _*) {
        df.writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", ckpt)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      }
      if (!q.awaitTermination(300000L)) {
        q.stop()
        sys.error(s"streaming query $qn did not terminate within 300 s")
      }
      val batches = q.recentProgress.count(_.numInputRows > 0)
      (df.sparkSession.table(qn), batches)
    }
  }

  /** events.parquet as a STREAM, schema-drift-proof: the on-disk
    * timestamp encoding is sniffed from the batch reader's inferred
    * schema (a metadata-only footer read), declared to the file
    * stream source verbatim, then normalized through the SAME
    * [[graft.sources.Tables.normalizeTs]] invariant as the batch
    * loader — whichever of TIMESTAMP / TIMESTAMP_NTZ / nanos-as-long
    * the generator produced, the stream sees session-TZ timestamps. */
  private def streamEvents(s: SparkSession, d: String): DataFrame = {
    requireGlobSafe(d)
    val onDisk = s.read.parquet(s"$d/events.parquet").schema
    graft.sources.Tables.normalizeTs(
      s.readStream.schema(onDisk).option("basePath", d)
        .parquet(s"$d/events.parque[t]"), "ts")
  }

  /** Exact-content streaming dedup over the full documents corpus:
    * the surviving fingerprint set == the corpus's distinct md5 set
    * (first-arrival-wins keeps exactly one row per fp). Executes
    * [[DedupStreams.exactDedup]] — watermarked, checkpointed,
    * bounded-state — end to end. */
  val exactDedupParity: Q = (s, d) =>
    runToTable(DedupStreams.exactDedup(streamDocs(s, d)), "st_exact_dedup",
      watermarkFlush = false)
      .select("fp")

  /** [[exactDedupParity]] under FORCED MULTI-BATCH arrival
    * ([[streamDocsMultiBatch]]: 4 files × maxFilesPerTrigger=1 → 4
    * micro-batches): the surviving fp set must still equal the
    * corpus's distinct md5 set, which requires batch k's duplicates of
    * batch j<k rows to be dropped against the watermark-held state,
    * not merely within one batch. The declared CORRECTNESS row for
    * cross-batch dedup state. */
  val exactDedupMultiBatchParity: Q = (s, d) =>
    runToTable(DedupStreams.exactDedup(streamDocsMultiBatch(s, d)),
      "st_exact_dedup_mb", watermarkFlush = false)
      .select("fp")

  /** The PRODUCTION sink path under the oracle: the same multi-batch
    * exact dedup, but written through
    * [[EventStreams.idempotentParquetSink]] (foreachBatch → one
    * `_batch_id=` partition per micro-batch, dynamic partition
    * overwrite so an at-least-once replay overwrites itself instead of
    * duplicating rows) and read BACK from the committed parquet — the
    * memory sink is a verification harness, this is what a real
    * pipeline deploys. Each run starts from a fresh output + checkpoint
    * (the run IS the pipeline's first deployment; restart idempotence
    * is separately pinned by [[CheckpointRecoverySpec]]). */
  val exactDedupParquetParity: Q = (s, d) => {
    val base = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
      "/graft-stream-sink/st_exact_dedup_parquet"
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory && !java.nio.file.Files.isSymbolicLink(p.toPath))
        Option(p.listFiles).foreach(_.foreach(rm))
      p.delete(); ()
    }
    rm(new java.io.File(base))
    // checkpoint on the ephemeral tmpfs root (see [[ckptRoot]]); the
    // parquet DATA stays under tmpdir — it is the sink artifact the
    // query reads back, not scaffolding
    withEphemeralCkpt(s"st_exact_dedup_parquet_${runSeq.incrementAndGet()}") {
      ckpt =>
        val confs =
          Seq("spark.sql.shuffle.partitions" -> StatePartitions.toString) ++
            noDataBatchConfs(watermarkFlush = false)
        val q = withStreamConfs(s, confs: _*) {
          EventStreams.idempotentParquetSink(
              DedupStreams.exactDedup(streamDocsMultiBatch(s, d)),
              s"$base/data", ckpt)
            .trigger(Trigger.AvailableNow()).start()
        }
        if (!q.awaitTermination(300000L)) {
          q.stop()
          sys.error("st_exact_dedup_parquet did not terminate within 300 s")
        }
    }
    s.read.parquet(s"$base/data").select("fp")
  }

  /** Continuous-ingest cross-corpus dedup, the streaming twin of
    * `pl_cross_dedup` with the SAME corpus/batch split (doc_id % 5):
    * the stream is the incoming crawl slice, the static side is the
    * existing corpus's fingerprints, and the surviving fp set must
    * equal the batch query's fp column. Executes
    * [[DedupStreams.crossDedupIngest]] — stream-static anti join +
    * watermarked fingerprint dedup — end to end. */
  val crossDedupParity: Q = (s, d) => {
    val corpusFps = graft.sources.Tables.documents(s, d)
      .where(col("doc_id") % 5 =!= 4)
      .select(md5(col("text").cast("binary")).as("fp"))
    val incoming = streamDocs(s, d).where(col("doc_id") % 5 === 4)
    runToTable(DedupStreams.crossDedupIngest(incoming, corpusFps),
      "st_cross_dedup", watermarkFlush = false)
      .select("fp")
  }

  /** Conversion-funnel stages computed by the CUSTOM-STATE streaming
    * path — [[EventStreams.funnelStages]]'s `mapGroupsWithState`
    * machine over the real events corpus — aggregated to the same
    * (stage, n_users) shape as the batch `ev_funnel`, whose oracle it
    * shares. The per-user state machine sorts each group's batch by
    * (ts, stage-rank, event_id), so within one micro-batch the scan
    * order is total and the machine provably equals the batch
    * min-join formulation (the local spec also pins this); stages
    * only advance, so the `max(stage)` collapse below is
    * slicing-stable. The machine's arrival contract (micro-batches in
    * event-time order) is exercised for real in
    * [[graft.streaming.MultiBatchParitySpec]]: 4 time-epoch files,
    * `maxFilesPerTrigger=1`, per-user state carried across batches,
    * result equal to the batch funnel. */
  val funnelParity: Q = (s, d) => {
    import s.implicits._
    val ev = streamEvents(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")).as[Event]
    // mapGroupsWithState emits one (uid, stage) row per user per
    // micro-batch → update output mode; the memory sink keeps every
    // update, so collapse to each user's final (= max) stage first
    runToTable(EventStreams.funnelStages(ev).toDF("user_id", "stage"),
      "st_funnel", mode = "update", watermarkFlush = false)
      .groupBy("user_id").agg(max(col("stage")).as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
  }

  /** BOUNDED-STATE funnel under the hash gate (round 12 — the honest
    * gap in the streaming state audit closed as a DECLARED capability):
    * [[EventStreams.funnelStagesTtl]] over time-sliced multi-batch
    * arrival. Semantics are the GAP rule (inactivity > TTL restarts the
    * funnel — final stage = funnel over the user's last gap-free
    * segment), which the DuckDB oracle replays exactly: sessionize each
    * user by `gap > TTL`, keep the last segment, run the same min-join
    * funnel the `st_funnel`/`ev_funnel` pair already share. Eviction
    * (`EventTimeTimeout`) is answer-invisible by construction (see the
    * machine's Scaladoc), and the run REQUIRES it engaged: state rows
    * must actually have been removed during the run, and the final
    * state footprint must be smaller than the user universe — a
    * silent fall-back to unbounded NoTimeout state cannot pass. */
  val funnelTtlParity: Q = (s, d) =>
    runEvicting(s, d, "st_funnel_ttl",
      ev => EventStreams.funnelStagesTtl(ev).toDF())
      .groupBy("user_id")
      .agg(max(struct(col("last_us"), col("stage"))).as("m"))
      .select(col("user_id"), col("m.stage").as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))

  /** [[funnelTtlParity]]'s FOLD-state sibling
    * ([[EventStreams.ewmaUserStateTtl]]): the per-user EWMA restarts
    * after inactivity > TTL, so the declared answer is the `ev_ewma`
    * fold over the user's last gap-free segment — same eviction
    * contract, same engagement requirement. */
  val ewmaTtlParity: Q = (s, d) =>
    runEvicting(s, d, "st_ewma_ttl",
      ev => EventStreams.ewmaUserStateTtl(ev).toDF())
      .groupBy("user_id")
      .agg(max(struct(col("last_us"), col("n_events"),
        col("ewma_micro"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.ewma_micro").as("ewma_micro"))

  /** [[funnelTtlParity]] under the TIMEOUT × LATENESS feed
    * ([[streamEventsTtlLatePlant]], round 13): same machine, same
    * eviction-engagement requirements, but the last data batch carries
    * rows late in arrival order — planted views behind the watermark
    * that the drop rule must discard, and planted click/purchase pairs
    * within the allowed lateness that must fold into armed TTL state.
    * The oracle replays the plant and both rules exactly; the planted
    * users land at stage 0 iff the drop and the admit BOTH behaved. */
  val funnelTtlLateParity: Q = (s, d) =>
    runEvicting(s, d, "st_funnel_ttl_late",
      ev => EventStreams.funnelStagesTtl(ev).toDF(),
      feed = streamEventsTtlLatePlant(_, _))
      .groupBy("user_id")
      .agg(max(struct(col("last_us"), col("stage"))).as("m"))
      .select(col("user_id"), col("m.stage").as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))

  /** [[ewmaTtlParity]] under the same TIMEOUT × LATENESS feed: a
    * wrongly-admitted planted view folds a third value (9.0) into the
    * planted users' EWMA; a wrongly-dropped click/purchase removes
    * them from the result — both directions hash-visible. */
  val ewmaTtlLateParity: Q = (s, d) =>
    runEvicting(s, d, "st_ewma_ttl_late",
      ev => EventStreams.ewmaUserStateTtl(ev).toDF(),
      feed = streamEventsTtlLatePlant(_, _))
      .groupBy("user_id")
      .agg(max(struct(col("last_us"), col("n_events"),
        col("ewma_micro"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.ewma_micro").as("ewma_micro"))

  /** Shared runner for the bounded-state (`EventTimeTimeout`) machines:
    * time-sliced multi-batch arrival, update-mode memory sink, and the
    * bounded-state contract REQUIRED on the way out — state rows must
    * actually have been evicted during the run and the final footprint
    * must be under the user universe, so a silent fall-back to
    * unbounded NoTimeout state cannot return an answer. The collapsed
    * frame excludes the flush sentinel's reserved negative user. */
  private def runEvicting(s: SparkSession, d: String, name: String,
      machine: org.apache.spark.sql.Dataset[Event] => DataFrame,
      feed: (SparkSession, String) => DataFrame =
        streamEventsTimeSlicesWithSentinel(_, _)): DataFrame = {
    import s.implicits._
    val ev = feed(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")).as[Event]
    val qn = s"${name}_${runSeq.incrementAndGet()}"
    val stateOps = withEphemeralCkpt(qn) { ckpt =>
      val q = withStatePartitions(s) {
        machine(ev).writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", ckpt)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
      }
      if (!q.awaitTermination(300000L)) {
        q.stop()
        sys.error(s"streaming query $qn did not terminate within 300 s")
      }
      q.recentProgress.flatMap(_.stateOperators)
    }
    // valid only under the default HDFS state provider or RocksDB row tracking
    val removed = stateOps.map(_.numRowsRemoved).sum
    require(removed > 0, "event-time timeout never evicted state — " +
      "the bounded-state contract did not engage")
    val finalRows = stateOps.lastOption.map(_.numRowsTotal).getOrElse(-1L)
    val nUsers = graft.sources.Tables.events(s, d)
      .select("user_id").distinct().count()
    require(finalRows >= 0 && finalRows < nUsers,
      s"final state holds $finalRows rows for $nUsers users — not bounded")
    s.table(qn).where(col("user_id") >= 0)
  }

  /** Tumbling-window counts computed by the WATERMARKED WINDOWED-AGG
    * streaming path ([[EventStreams.tumblingCounts]]) over the real
    * events corpus, update-mode: every micro-batch emits each touched
    * window's RUNNING count, so the final value per (bucket,
    * event_type) is the max over its updates (counts only grow; the
    * float sum_value column is deliberately NOT declared — it is not
    * monotone, so only the count collapse is slicing-stable). Equals
    * the batch hourly census, which is the oracle. CAVEAT: with real
    * event time the 10-minute watermark would DROP genuinely late
    * rows under out-of-order multi-batch arrival — parity holds
    * because the single-file source yields one AvailableNow batch
    * (nothing is ever late inside a batch); a drop-directory ingest
    * trades exact parity for bounded state, which is the point of the
    * watermark. Cross-batch STATE (dedup keys, fold state) is
    * oracle-gated via `st_exact_dedup_mb` and spec-gated in
    * [[graft.streaming.MultiBatchParitySpec]]. */
  val tumblingParity: Q = (s, d) =>
    runToTable(
      EventStreams.tumblingCounts(streamEvents(s, d)),
      "st_tumbling", mode = "update", watermarkFlush = false)
      .groupBy("bucket", "event_type")
      .agg(max(col("n")).as("n"))

  /** Live decontamination, the streaming twin of `pl_contamination`'s
    * flagging semantics with the SAME benchmark split (every 20th doc
    * is the eval suite): the incoming stream is the rest of the
    * corpus, and [[DedupStreams.contaminated]] — explode to shingles,
    * stream-static LEFT SEMI join against the broadcast dictionary,
    * watermarked per-doc collapse — flags docs sharing ≥1 word-3-gram
    * with the suite. Projected to the flagged doc_id SET (which doc
    * row survived the dedup collapse is not contractual; the set
    * is). */
  val contaminatedParity: Q = (s, d) => {
    val bench = graft.sources.Tables.documents(s, d)
      .where(col("doc_id") % 20 === 0)
      .select(explode(expr("word_shingles(text, 3)")).as("shingle"))
      .distinct()
    val incoming = streamDocs(s, d).where(col("doc_id") % 20 =!= 0)
    runToTable(DedupStreams.contaminated(incoming, bench), "st_contaminated",
      watermarkFlush = false)
      .select("doc_id")
  }

  /** Online-EWMA parity: [[EventStreams.ewmaUserState]]'s checkpointed
    * fold state over the streamed events corpus must equal the batch
    * `ev_ewma` fold, whose oracle it shares. Each micro-batch emits the
    * running (n, ewma) per touched user; n grows monotonically, so the
    * final state per user is its max-n update (the `st_funnel`
    * collapse discipline — and the same single-file ordered-arrival
    * caveat). */
  val ewmaParity: Q = (s, d) => {
    import s.implicits._
    val ev = streamEvents(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")).as[Event]
    runToTable(EventStreams.ewmaUserState(ev).toDF(), "st_ewma",
      mode = "update", watermarkFlush = false)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("ewma_micro"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.ewma_micro").as("ewma_micro"))
  }

  /** Sliding-window counts (1 h every 15 min; each event lands in 4
    * overlapping windows) through [[EventStreams.slidingCounts]] —
    * same update-mode max(n) collapse and single-file caveat as
    * [[tumblingParity]]. */
  val slidingParity: Q = (s, d) =>
    runToTable(EventStreams.slidingCounts(streamEvents(s, d)),
      "st_sliding", mode = "update", watermarkFlush = false)
      .groupBy("bucket")
      .agg(max(col("n")).as("n"))

  /** events + one far-future FLUSH SENTINEL row (user_id = −1, ts =
    * 2030-01-01), materialized once through [[graft.ResultCache]] and
    * streamed back. Append-mode stateful output only emits when the
    * watermark passes a window's end — without the sentinel, every
    * session inside the final `lateness + gap` of event time would
    * stay in the state store forever when the source runs dry. The
    * sentinel is the standard heartbeat/flush discipline a production
    * feed has anyway (idle sources tick); its own session is filtered
    * out of the declared result. */
  private def flushSentinel(base: DataFrame): DataFrame =
    base.limit(1).select(
      lit(-1L).as("event_id"),
      lit("2030-01-01 00:00:00").cast("timestamp").as("ts"),
      lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
      lit(0.0).as("value"), lit("").as("props"))

  private def streamEventsWithFlushSentinel(s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.Tables.events(s, d)
    val sentinel = flushSentinel(base)
    val cacheDir =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-result-cache"
    val (dir, _) = graft.ResultCache.materializeKeyed(
      "eventsFlushSentinel/v1", Seq(base), cacheDir)(
      base.select("event_id", "ts", "user_id", "event_type", "value", "props")
        .unionByName(sentinel))
    s.readStream.schema(sentinel.schema).parquet(dir)
  }

  /** events as ORDERED TIME-EPOCH micro-batches + the flush sentinel:
    * the corpus is rank-split on global (ts, event_id) order into
    * [[SessionEpochs]] contiguous files plus a final sentinel-only
    * file, materialized once with strictly increasing mtimes
    * ([[graft.ResultCache.materializeKeyedOrdered]]), and streamed with
    * `maxFilesPerTrigger=1` — ≥ 5 real micro-batches in event-time
    * order, the drop-directory ingest shape.
    *
    * BOUNDARY CHOICE: a blind quartile cut usually lands between
    * sessions (per-user gaps dwarf the 30-min window), which would
    * leave the cross-batch merge path unexercised. The cut ranks come
    * from [[sessionEpochBounds]] instead: each boundary is the global
    * rank of a STRADDLE CANDIDATE — an event whose same-user
    * predecessor is < gap older — so the predecessor lands in the
    * earlier file and that session PROVABLY spans the boundary, forcing
    * a state-store merge in the next micro-batch.
    *
    * Cuts stay time-contiguous, which keeps append-mode emission SAFE
    * between batches: a session the watermark closes after epoch k has
    * its last event > 40 min (gap + lateness) before any possible
    * future event, so no closed session can ever need a merge.
    * (The materialization windows are build-once and cached; a
    * production feed arrives epoched by construction.) */
  private[graft] val SessionEpochs = 4

  /** Global (ts, event_id)-rank cut points for [[SessionEpochs]] epochs,
    * chosen so the epoch files PROVABLY exercise both cross-batch state
    * paths: two cuts land at SESSION-straddle candidates (same-user
    * predecessor < 30 min older — the session state store must merge
    * partials across the boundary) and one at a JOIN-straddle candidate
    * (a purchase whose same-user view is strictly earlier but within
    * the 1-hour attribution window — the interval join's left state
    * must hold the view across the boundary). Falls back to plain
    * corpus quartiles on degenerate corpora. Deterministic,
    * data-derived, driver-side ≤ 3 longs. */
  private[graft] def sessionEpochBounds(base: DataFrame): Seq[Long] = {
    import org.apache.spark.sql.expressions.Window
    // global (ts, event_id) rank via the repo's two-phase distributed
    // pattern (round-10 verdict item 4: the harness holds the same
    // no-single-task-sort bar as pl_shuffle_order) — the old
    // UNPARTITIONED Window.orderBy here ranked the whole events table
    // through one task
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val (ranked0, rankedHandle) =
      graft.operators.Ranks.globalRank(base, Seq("ts", "event_id"), "rn")
    val ranked = ranked0
      .withColumn("us", unix_micros(col("ts")))
    val sess = ranked
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .where(col("prev_us").isNotNull &&
        col("us") - col("prev_us") < 1800L * 1000000)
      .select("rn")
    val joins = ranked
      .withColumn("prev_view_us",
        max(when(col("event_type") === "view", col("us")))
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .where(col("event_type") === "purchase" &&
        col("prev_view_us").isNotNull &&
        col("us") - col("prev_view_us") > 0 &&
        col("us") - col("prev_view_us") <= 3600L * 1000000)
      .select("rn")
    def pick(df: DataFrame, q: Double): Option[Long] = {
      val n = df.count()
      if (n == 0) None
      else {
        // q-th candidate by rank — two-phase again (the candidate set
        // can be a large fraction of the corpus: most events' same-user
        // predecessor is within the gap), never a one-task sort
        val idx = 1L.max((n * q).toLong)
        val (cr, h) = graft.operators.Ranks.globalRank(df, Seq("rn"), "cr")
        val v = cr.where(col("cr") === idx).select("rn").head.getLong(0)
        graft.Checkpoints.drop(h)
        Some(v)
      }
    }
    val cuts = Seq(pick(sess, 0.5), pick(joins, 0.5), pick(sess, 0.75))
      .flatten.distinct.sorted
    graft.Checkpoints.drop(rankedHandle)
    if (cuts.nonEmpty) cuts
    else {
      val total = base.count()
      (1 until SessionEpochs).map(k => 1L + k * total / SessionEpochs)
    }
  }

  private[graft] def streamEventsEpochsWithSentinel(s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val sentinel = flushSentinel(base)
    val cacheDir =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-result-cache"
    // the epoch assignment ranks via the two-phase distributed pattern
    // (see sessionEpochBounds); the checkpoint handle outlives the
    // by-name parts closure so the blocks can be released once every
    // epoch file is committed
    var rankHandles: Seq[DataFrame] = Nil
    val (dir, _) = graft.ResultCache.materializeKeyedOrdered(
      s"eventsEpochsSentinel/$SessionEpochs/v4", Seq(base), cacheDir) {
      val bounds = sessionEpochBounds(base)
      val (ranked0, h) =
        graft.operators.Ranks.globalRank(base, Seq("ts", "event_id"), "rn")
      rankHandles = Seq(h)
      val ranked = ranked0
        .withColumn("epoch", bounds.foldLeft(lit(0)) { (acc, b) =>
          acc + when(col("rn") >= b, 1).otherwise(0) })
        .drop("rn")
      (0 to bounds.length).map(k =>
        ranked.where(col("epoch") === k).drop("epoch")) :+ sentinel
    }
    rankHandles.foreach(graft.Checkpoints.drop)
    s.readStream.schema(sentinel.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  /** events in TIME-SLICED ordered files + the flush sentinel (round
    * 12): `slices` files cut at equal fractions of the [min(ts),
    * max(ts)] RANGE — membership is a function of the ts VALUE alone,
    * so equal-timestamp ties can NEVER split across micro-batches
    * (the rank-cut epoch feed can split a tie, which is fine for
    * session merges — ts-only semantics — but would break a machine
    * whose within-batch order tiebreaks on event TYPE, like the
    * funnel's view-before-click rule). Coarse slices also advance the
    * watermark in large jumps, so event-time TIMEOUTS genuinely fire
    * mid-run. */
  private[graft] def streamEventsTimeSlicesWithSentinel(
      s: SparkSession, d: String, slices: Int = 4): DataFrame = {
    val base = graft.sources.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val sentinel = flushSentinel(base)
    val cacheDir =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-result-cache"
    val (dir, _) = graft.ResultCache.materializeKeyedOrdered(
      s"eventsTimeSlicesSentinel/$slices/v1", Seq(base), cacheDir) {
      val mm = base.agg(
        min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx")).head
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val bounds = (1 until slices).map(k => mn + (mx - mn) * k / slices)
      val cutoffs = (Seq(Long.MinValue) ++ bounds) :+ Long.MaxValue
      cutoffs.sliding(2).map { case Seq(lo, hi) =>
        base.where(unix_micros(col("ts")) >= lo &&
          unix_micros(col("ts")) < hi)
      }.toSeq :+ sentinel
    }
    s.readStream.schema(sentinel.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  /** events in TTL-aware time slices + a DELIBERATELY LATE file +
    * sentinel (round 13, r12 verdict item 7): the one stateful-shape
    * combination not yet hash-gated was TIMEOUT × LATENESS — an
    * `EventTimeTimeout` machine receiving rows that are late in arrival
    * order, some behind the watermark (must be DROPPED before the
    * operator), some within the allowed lateness (must be ADMITTED and
    * folded while eviction is armed). Six ordered files:
    *
    *  - files 0–2: thirds of the ts range up to `mx − 30 min` — coarse
    *    slices whose watermark jumps fire the timeouts mid-run (the
    *    engagement requirement [[runEvicting]] asserts);
    *  - file 3: the last 30 minutes — after it the eviction watermark
    *    is `mx − 10 min`;
    *  - file 4: a WATERMARK-AGING row (user −999 at `mx`, the sibling
    *    plants' discipline — [[streamEventsWithLatePlant]]'s file 1,
    *    the join plant's `aging` row): the LATE-ROW filter reads the
    *    watermark one batch behind (SPARK-40925), and the original
    *    5-file layout read it as "the watermark after file 2" = `max(ts
    *    in file 2) − 10 min` — which the v1 plant approximated as
    *    `(mx − 30 min) − 10 min`, silently assuming the corpus is DENSE
    *    just below the `mx − 30 min` cut. At sf0.001 the last file-2
    *    event sits 65 min before `mx`, the filter read `mx − 75 min`,
    *    and the planted `mx − 50 min` view was wrongly ADMITTED
    *    (st_{funnel,ewma}_ttl_late failed the sf0.001 oracle; sf0.01/
    *    sf0.1 are dense enough that v1 held). The aging batch pins the
    *    filter watermark for the late batch at `mx − 10 min` for ANY
    *    corpus shape; the row itself is answer-invisible (negative
    *    user, dropped by [[runEvicting]]'s guard and absent from the
    *    oracle's source);
    *  - file 5: the LATE batch, all rows for three FRESH users (uids
    *    offset to 10^10 — fresh state, so machine-vs-oracle equality
    *    never depends on arrival order against already-folded corpus
    *    events):
    *      - a `view` at `mx − 50 min` per user — 40 min behind the
    *        `mx − 10 min` filter watermark, must be DROPPED;
    *      - a `click` at `mx − 5 min` + a `purchase` at `mx − 4 min`
    *        per user — past it (≥ 5 min margin), must be ADMITTED.
    *    The dropped view sits WITHIN the 2 h state TTL of the admitted
    *    rows (45 min gap) — deliberately: the TTL gap rule neutralizes
    *    any OLDER leak (a reset makes a wrongly-admitted ancient row
    *    answer-invisible, by the machine's own eviction-invisibility
    *    design), so only an in-TTL drop probe can distinguish the two
    *    rules' interaction. Both failure directions move the answer:
    *    a failed DROP walks the planted users view→click→purchase to
    *    funnel stage 3 (correct: click/purchase at stage 0 are no-ops
    *    → stage 0) and folds a third value into the EWMA; a failed
    *    ADMIT removes the planted users from the result entirely.
    *    Every planted row is a pure function of the corpus (`max(ts)`
    *    minus fixed intervals), so the DuckDB oracle replays plant,
    *    drop rule, and admit rule exactly;
    *  - file 6: the flush sentinel.
    *
    * Slice membership is a function of the ts VALUE alone (equal-ts
    * ties can never split across batches), same property as
    * [[streamEventsTimeSlicesWithSentinel]]. */
  private[graft] def streamEventsTtlLatePlant(s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val sentinel = flushSentinel(base)
    val cacheDir =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-result-cache"
    val MinUs = 60L * 1000000
    val (dir, _) = graft.ResultCache.materializeKeyedOrdered(
      "eventsTtlLatePlant/v2", Seq(base), cacheDir) {
      val mm = base.agg(
        min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx")).head
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      require(mx - mn > graft.streaming.EventStreams.StateTtlUs + 60 * MinUs,
        "ttl-late plant needs a corpus spanning > TTL + 1h")
      val c1 = mn + (mx - mn) / 3
      val c2 = mn + 2 * (mx - mn) / 3
      val c3 = mx - 30 * MinUs
      val us = unix_micros(col("ts"))
      // one planted row; ids/uids/timestamps mirrored literally in the
      // declared oracles — change BOTH or neither
      def plant(id: Long, tsUs: Long, uid: Long, typ: String,
          v: Double): DataFrame =
        base.limit(1).select(
          lit(id).as("event_id"),
          expr(s"timestamp_micros(${tsUs}L)").as("ts"),
          lit(uid).as("user_id"), lit(typ).as("event_type"),
          lit(v).as("value"), lit("").as("props"))
      val lateFile = (0L until 3L).map { k =>
        plant(50000000000L + k, mx - 50 * MinUs, 10000000000L + k,
            "view", 9.0)
          .unionByName(plant(50000000003L + k, mx - 5 * MinUs,
            10000000000L + k, "click", 1.25))
          .unionByName(plant(50000000006L + k, mx - 4 * MinUs,
            10000000000L + k, "purchase", 2.5))
      }.reduce(_ unionByName _)
      Seq(
        base.where(us < c1),
        base.where(us >= c1 && us < c2),
        base.where(us >= c2 && us < c3),
        base.where(us >= c3),
        plant(-999L, mx, -999L, "view", 0.0),
        lateFile,
        sentinel)
    }
    s.readStream.schema(sentinel.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  /** events + a DELIBERATELY LATE third file. Three ordered files ×
    * `maxFilesPerTrigger=1`:
    *
    *  - file 0: the whole corpus — after this batch the engine's
    *    watermark is `max(ts) − lateness` (ms-truncated: event-time
    *    stats collect milliseconds);
    *  - file 1: the last hour bucket replayed once — a benign batch
    *    whose REAL job is to age the watermark. Spark's late-row
    *    filter runs against the PREVIOUS batch's watermark, one batch
    *    behind the eviction watermark (SPARK-40925 watermark
    *    propagation: `getInputWatermarkForLateEvents(batchId)` reads
    *    batch `id−1`'s value — verified empirically on 4.1.2: a late
    *    file in batch 1 is admitted, in batch 2 it is dropped). With
    *    only two files the drop would never engage;
    *  - file 2: the LATE batch — first-hour-bucket rows twice each
    *    (must be DROPPED: window end is ~30 days behind the
    *    watermark) and last-hour-bucket rows once each (late in
    *    arrival order but within the allowed lateness: window end >
    *    max(ts) > watermark, must be ADMITTED).
    *
    * WHY TWICE for the dropped set: the declared collapse is
    * update-mode `max(n)` (counts only grow), and the first bucket's
    * state is evicted once the watermark passes it — a FAILED drop
    * would re-aggregate the replants from empty state, so with one
    * copy the wrong row would carry `n = orig` and the collapse would
    * mask it. Two copies make any failure emit `2·orig > orig`, which
    * `max(n)` surfaces and the oracle's hash rejects. The admitted
    * set needs no multiplier: its window is still live, so a wrong
    * DROP leaves the last bucket at `2·orig` where the oracle demands
    * `3·orig` (file 1 + file 2 replays). Both failure directions are
    * hash-visible.
    *
    * Every planted row is a pure function of the corpus (bucket
    * membership by epoch-aligned hour, all integer micros), so the
    * DuckDB oracle replays the plant AND the drop rule exactly —
    * late-data semantics earned under the hash gate, not documented
    * (round-10 verdict item 1). The 1-second `require` margins keep
    * the ms-truncated watermark and the oracle's full-precision
    * `max(ts) − 10 min` on the same side of every window end. */
  private[graft] def streamEventsWithLatePlant(s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val cacheDir =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-result-cache"
    val HourUs = 3600L * 1000000
    val (dir, _) = graft.ResultCache.materializeKeyedOrdered(
      "eventsLatePlant/w3600/l600/v2", Seq(base), cacheDir) {
      val mm = base.agg(
        min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx")).head
      val (mnUs, mxUs) = (mm.getLong(0), mm.getLong(1))
      val b0 = Math.floorDiv(mnUs, HourUs)
      val bn = Math.floorDiv(mxUs, HourUs)
      // the watermark in force for the late batch, exactly as Spark
      // computes it after batches 0–1 (both share the corpus max)
      val wmUs = (mxUs / 1000L - 600000L) * 1000L
      require((b0 + 1) * HourUs <= wmUs - 1000000L,
        "late-plant parity needs a corpus spanning > 1h10m: the first " +
          "hour's window end must be clearly behind the watermark")
      require((bn + 1) * HourUs >= wmUs + 1000000L,
        "last bucket's window end must be clearly past the watermark")
      val bucket = expr(s"unix_micros(ts) DIV $HourUs")
      def replant(df: DataFrame, offset: Long): DataFrame =
        df.select((col("event_id") + offset).as("event_id"),
          col("ts"), col("user_id"), col("event_type"), col("value"),
          col("props"))
      val firstTwice = base.where(bucket === b0)
        .select(explode(expr("array(1L, 2L)")).as("cp"), col("*"))
        .select((col("event_id") + col("cp") * 10000000000L).as("event_id"),
          col("ts"), col("user_id"), col("event_type"), col("value"),
          col("props"))
      val lastBucket = base.where(bucket === bn)
      Seq(base,
        replant(lastBucket, 30000000000L),
        firstTwice.unionByName(replant(lastBucket, 10000000000L)))
    }
    s.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  /** Native SESSION WINDOWS ([[EventStreams.sessionCounts]]:
    * `session_window(ts, 30 min)` + watermark) over the real events
    * corpus — the streaming sessionization Spark ships, under the
    * oracle. Append mode (Spark does not support update mode for
    * session windows): a session emits once, when the watermark passes
    * its end; the [[streamEventsWithFlushSentinel]] sentinel advances
    * the final watermark past every real session, and AvailableNow
    * runs the flush batch that drains them.
    *
    * SEMANTICS vs the batch `ev_sessions`: session_window windows are
    * END-EXCLUSIVE — per-event windows [ts, ts+gap) merge iff they
    * OVERLAP, so a successor exactly `gap` later starts a NEW session,
    * where the batch query's `diff > gap` keeps it. This query
    * therefore declares its own oracle with the strict boundary
    * (`diff >= gap` starts a session), and `session_end` is the
    * window's end = last event + gap, not max(ts). Same single-file
    * ordered-arrival caveat as [[tumblingParity]]. */
  val sessionParity: Q = (s, d) =>
    runToTable(EventStreams.sessionCounts(
        streamEventsWithFlushSentinel(s, d)), "st_sessions")
      .where(col("user_id") >= 0)
      .select("user_id", "session_start", "session_end", "n_events")

  /** [[sessionParity]] under FORCED MULTI-BATCH epoch arrival
    * ([[streamEventsEpochsWithSentinel]]): ≥ 5 ordered micro-batches,
    * sessions straddling epoch boundaries carried and MERGED in the
    * session state store across batches, early sessions emitted by
    * intermediate watermark passes — the full incremental-session
    * machine under the hash gate, sharing `st_sessions`' oracle (the
    * answer must be slicing-invariant). */
  val sessionMultiBatchParity: Q = (s, d) =>
    runToTable(EventStreams.sessionCounts(
        streamEventsEpochsWithSentinel(s, d)), "st_sessions_mb")
      .where(col("user_id") >= 0)
      .select("user_id", "session_start", "session_end", "n_events")

  /** STREAM-STREAM interval join
    * ([[EventStreams.viewPurchaseAttribution]]): purchases attributed
    * to same-user views within the preceding hour, both sides
    * watermarked so the join state holds one hour + lateness per side.
    * Inner-join matches emit in the batch that completes the pair (no
    * watermark wait), so the single-batch AvailableNow run emits every
    * pair; the watermarks are the state-eviction bound a continuous
    * deployment needs. Projected to the (purchase, view) id pairs —
    * deterministic regardless of arrival slicing. */
  val intervalJoinParity: Q = (s, d) => {
    val ev = streamEvents(s, d)
    runToTable(
      EventStreams.viewPurchaseAttribution(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase")),
      "st_interval_join", watermarkFlush = false)
      .select("purchase_id", "view_id", "user_id")
  }

  /** [[intervalJoinParity]] under FORCED MULTI-BATCH epoch arrival:
    * a view and its attributed purchase can land in DIFFERENT
    * micro-batches (the epoch cuts deliberately split sessions), so
    * the join's left-side state store must hold the view across the
    * batch boundary for the purchase to find — the cross-batch JOIN
    * STATE path the single-batch run cannot exercise. Time-ordered
    * epochs make the held side always the view (p_ts ≥ v_ts), and a
    * view is evictable only once the watermark passes v_ts + 1 h —
    * by which time no matching purchase can still arrive, so no match
    * is ever lost to cleanup. Shares `st_interval_join`'s oracle. */
  val intervalJoinMultiBatchParity: Q = (s, d) => {
    val ev = streamEventsEpochsWithSentinel(s, d)
    runToTable(
      EventStreams.viewPurchaseAttribution(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase")),
      "st_interval_join_mb", watermarkFlush = false)
      .select("purchase_id", "view_id", "user_id")
  }

  /** events + TWO far-future flush sentinels, one PER JOIN SIDE. The
    * single [[flushSentinel]] row carries `event_type = 'sentinel'`,
    * which the interval-join queries' per-side `event_type` filters
    * discard BEFORE the `withWatermark` operators ever see it — it
    * can flush a single-input stateful operator but not a two-input
    * join. This feed plants one 2030 'view' and one 2030 'purchase'
    * (user −1), so each side's watermark column observes its own
    * sentinel and the GLOBAL watermark (the min across both) advances
    * past every real event. The two sentinels match each other (same
    * user, zero time distance), so neither lingers as join state; the
    * query drops them with the standard `user_id >= 0` guard. */
  private[graft] def streamEventsWithJoinSentinels(s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    def sent(id: Long, tpe: String): DataFrame = base.limit(1).select(
      lit(id).as("event_id"),
      lit("2030-01-01 00:00:00").cast("timestamp").as("ts"),
      lit(-1L).as("user_id"), lit(tpe).as("event_type"),
      lit(0.0).as("value"), lit("").as("props"))
    val cacheDir =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-result-cache"
    val (dir, _) = graft.ResultCache.materializeKeyed(
      "eventsJoinSentinels/v1", Seq(base), cacheDir)(
      base.unionByName(sent(-1L, "view")).unionByName(sent(-2L, "purchase")))
    s.readStream.schema(base.schema).parquet(dir)
  }

  /** [[streamEventsWithJoinSentinels]] + the AS-OF MULTI-CANDIDATE
    * PLANT: the natural corpus gives every purchase exactly ONE
    * in-window view (checked at sf0.01 AND sf0.1 — multiplicity
    * histogram is {1: all}), so `st_asof_join`'s argmax reduction
    * never has to choose and its oracle would pass even if the query
    * emitted ALL candidates. This feed makes the selection
    * hash-visible: per source event with `event_id % 499 = 0`, a
    * reserved negative user (−event_id−10, below the −1 sentinel user)
    * gets THREE planted views — two TIED at ts−10 min with different
    * ids (the tie rule: max view_id must win), one at ts−30 min (the
    * latest rule: older must lose) — and one purchase at ts. The
    * oracle replays the plant arithmetic and the ranked join, so a
    * query that emits all candidates, picks the earliest, or breaks
    * ties low lands on a different hash. */
  private[graft] def streamEventsWithAsofPlant(
      s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    def sent(id: Long, tpe: String): DataFrame = base.limit(1).select(
      lit(id).as("event_id"),
      lit("2030-01-01 00:00:00").cast("timestamp").as("ts"),
      lit(-1L).as("user_id"), lit(tpe).as("event_type"),
      lit(0.0).as("value"), lit("").as("props"))
    val cacheDir =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-result-cache"
    val (dir, _) = graft.ResultCache.materializeKeyed(
      "eventsAsofPlant/499/v1", Seq(base), cacheDir) {
      val src = base.where(col("event_id") % 499 === 0)
        .select(col("event_id").as("src_id"), col("ts").as("src_ts"))
      def mk(idOff: Long, minsBefore: Int, tpe: String): DataFrame = src.select(
        (col("src_id") * 100 + idOff).as("event_id"),
        (col("src_ts") - expr(s"INTERVAL $minsBefore MINUTES")).as("ts"),
        (-col("src_id") - 10L).as("user_id"),
        lit(tpe).as("event_type"), lit(0.0).as("value"), lit("").as("props"))
      base
        .unionByName(mk(11, 10, "view"))  // tie pair, smaller id — must lose
        .unionByName(mk(12, 10, "view"))  // tie pair, larger id — must win
        .unionByName(mk(13, 30, "view"))  // older — must lose to the tie pair
        .unionByName(mk(19, 0, "purchase"))
        .unionByName(sent(-1L, "view")).unionByName(sent(-2L, "purchase"))
    }
    s.readStream.schema(base.schema).parquet(dir)
  }

  /** The epoch-sliced feed of [[streamEventsEpochsWithSentinel]] with
    * the PER-SIDE TYPED join sentinels of
    * [[streamEventsWithJoinSentinels]] as the final file: same
    * session/join-straddle epoch cuts (cross-batch state provably
    * exercised), but the flush file carries one 2030 'view' and one
    * 2030 'purchase' so BOTH watermark columns of a two-input join —
    * and any stateful operator chained after it — observe the final
    * advance. The single 'sentinel'-typed row would die at the
    * per-side `event_type` filters and flush nothing. */
  private[graft] def streamEventsEpochsWithJoinSentinels(
      s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    def sent(id: Long, tpe: String): DataFrame = base.limit(1).select(
      lit(id).as("event_id"),
      lit("2030-01-01 00:00:00").cast("timestamp").as("ts"),
      lit(-1L).as("user_id"), lit(tpe).as("event_type"),
      lit(0.0).as("value"), lit("").as("props"))
    val cacheDir =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-result-cache"
    var rankHandles: Seq[DataFrame] = Nil
    val (dir, _) = graft.ResultCache.materializeKeyedOrdered(
      s"eventsEpochsJoinSentinels/$SessionEpochs/v1", Seq(base), cacheDir) {
      val bounds = sessionEpochBounds(base)
      val (ranked0, h) =
        graft.operators.Ranks.globalRank(base, Seq("ts", "event_id"), "rn")
      rankHandles = Seq(h)
      val ranked = ranked0
        .withColumn("epoch", bounds.foldLeft(lit(0)) { (acc, b) =>
          acc + when(col("rn") >= b, 1).otherwise(0) })
        .drop("rn")
      (0 to bounds.length).map(k =>
        ranked.where(col("epoch") === k).drop("epoch")) :+
        sent(-1L, "view").unionByName(sent(-2L, "purchase"))
    }
    rankHandles.foreach(graft.Checkpoints.drop)
    s.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  /** STREAM-STREAM LEFT OUTER interval join
    * ([[EventStreams.viewPurchaseLeftOuter]]): every view emits — its
    * attribution pairs when purchases landed within the following
    * hour, or ONE NULL-purchase row once the watermark proves no
    * match can still arrive. The outer-NULL rows only exist because
    * the join's left state store evicted a provably-unmatchable view
    * — eviction-triggered EMISSION, the stream-stream join path no
    * inner gate can see: evict early ⇒ a spurious NULL row next to
    * the real pair (hash-visible), evict late ⇒ the NULL row never
    * emits (row-count-visible). Needs [[streamEventsWithJoinSentinels]]
    * — with only the typed sentinel the per-side filters would starve
    * both watermark columns and every unmatched view would sit in
    * state forever (zero outer rows, which the oracle rejects: sf0.01
    * has thousands of views with no same-hour purchase). Oracle is
    * the plain LEFT JOIN with the same time bound. */
  val intervalJoinLeftParity: Q = (s, d) => {
    val ev = streamEventsWithJoinSentinels(s, d)
    val out = runToTable(
      EventStreams.viewPurchaseLeftOuter(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase")),
      "st_interval_join_left")
      .where(col("user_id") >= 0)
      .select("view_id", "purchase_id", "user_id")
    // Engagement guard (same discipline as the TTL queries' eviction
    // requirement): the run only means something if the watermark
    // actually flushed unmatched views — zero NULL rows would say the
    // sentinel feed or the outer state machine silently broke, even
    // when the matched pairs alone happen to hash-match a degenerate
    // oracle expectation.
    require(out.where(col("purchase_id").isNull).limit(1).count() > 0,
      "left-outer interval join emitted no NULL rows — the watermark " +
        "flush of unmatched view state did not engage")
    out
  }

  /** STREAM-STREAM FULL OUTER interval join
    * ([[EventStreams.viewPurchaseFullOuter]]): both eviction-emission
    * directions at once — unmatched views flush as NULL-purchase rows
    * on the LEFT state store's schedule (`v_ts + 1 h` behind the
    * watermark) and unmatched purchases flush as NULL-view rows on the
    * RIGHT store's earlier schedule (`p_ts` behind it, since all of a
    * purchase's candidate views precede it). Same dual-sentinel feed
    * and `user_id >= 0` guard as the left-outer gate; both NULL
    * directions are REQUIRED non-empty per run. */
  val intervalJoinFullParity: Q = (s, d) => {
    val ev = streamEventsWithJoinSentinels(s, d)
    val out = runToTable(
      EventStreams.viewPurchaseFullOuter(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase")),
      "st_interval_join_full")
      .where(col("user_id") >= 0)
      .select("view_id", "purchase_id", "user_id")
    Seq("purchase_id", "view_id").foreach { c =>
      require(out.where(col(c).isNull).limit(1).count() > 0,
        s"full-outer interval join emitted no NULL-$c rows — one " +
          "side's watermark state flush did not engage")
    }
    out
  }

  /** STREAM-STREAM LEFT SEMI interval join
    * ([[EventStreams.viewPurchaseSemi]]): each view with ≥1 qualifying
    * purchase emits exactly once. The oracle is the EXISTS form, so a
    * semi path that re-emits a view on its second match (the
    * cross-batch matched-flag bug) fails on row count, and one that
    * emits unmatched views fails on membership. Same dual-sentinel
    * feed and guard as the outer gates. */
  val intervalJoinSemiParity: Q = (s, d) => {
    val ev = streamEventsWithJoinSentinels(s, d)
    runToTable(
      EventStreams.viewPurchaseSemi(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase")),
      "st_interval_join_semi", watermarkFlush = false)
      .where(col("user_id") >= 0)
      .select("view_id", "user_id")
  }

  /** events + late plants for the SESSION-WINDOW path, four ordered
    * files: the whole corpus, a watermark-aging replay of the last
    * hour bucket (the [[streamEventsWithLatePlant]] one-batch-lag
    * discipline), the LATE batch — first-hour-bucket replants whose
    * session windows `[ts, ts+gap)` end ~30 days behind the watermark
    * (must be DROPPED; a failed drop creates a NEW session for that
    * user, emitted at the flush — an extra output row the hash
    * rejects, since the original session closed and emitted long ago)
    * and LAST-20-MINUTE replants (late in arrival, within the
    * horizon: must be ADMITTED and MERGE into the still-open sessions,
    * raising their n_events — a wrong drop leaves the count low) —
    * then the flush sentinel. Append-mode session state is the one
    * stateful shape where a late row can do more than re-count: it can
    * fabricate or fatten a SESSION, so both failure directions change
    * the declared session set itself.
    *
    * The ADMITTED side is framed by WATERMARK DISTANCE (`ts >
    * max(ts) − 20 min`), not by hour bucket: a row that close to the
    * corpus max has session-window end `ts + 30 min` at least 10 min
    * PAST the `max − 10 min` watermark for ANY corpus shape, where
    * the earlier last-HOUR-bucket framing silently depended on where
    * max(ts) falls inside its hour (gap 30 min < bucket 1 h) — the
    * round-13 testdata regeneration landed max at :57 and the
    * shape guard this framing replaces refused to build the plant. */
  private[graft] def streamEventsWithSessionLatePlant(s: SparkSession, d: String): DataFrame = {
    val base = graft.sources.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val sentinel = flushSentinel(base)
    val cacheDir =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-result-cache"
    val HourUs = 3600L * 1000000
    val GapUs = 1800L * 1000000
    val LateSrcUs = 1200L * 1000000
    val (dir, _) = graft.ResultCache.materializeKeyedOrdered(
      "eventsSessionLatePlant/g1800/l600/src1200/v2", Seq(base), cacheDir) {
      val mm = base.agg(
        min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx")).head
      val (mnUs, mxUs) = (mm.getLong(0), mm.getLong(1))
      val b0 = Math.floorDiv(mnUs, HourUs)
      val wmUs = (mxUs / 1000L - 600000L) * 1000L
      require((b0 + 1) * HourUs + GapUs <= wmUs - 1000000L,
        "session late-plant needs the first hour's session windows " +
          "clearly behind the watermark")
      // The admitted side needs no shape guard: every source row sits
      // within 20 min of max(ts), so its session-window end `ts + gap`
      // is ≥ 10 min past the `max − 10 min` watermark by construction
      // (30 − 20 − 10 = 0, plus the full 10-min lateness margin) —
      // unlike the hour-bucket framing this replaces, whose guard
      // tripped when a regeneration put max(ts) late in its hour.
      val bucket = expr(s"unix_micros(ts) DIV $HourUs")
      def replant(df: DataFrame, offset: Long): DataFrame =
        df.select((col("event_id") + offset).as("event_id"),
          col("ts"), col("user_id"), col("event_type"), col("value"),
          col("props"))
      val first = base.where(bucket === b0)
      val last = base.where(unix_micros(col("ts")) > lit(mxUs - LateSrcUs))
      Seq(base,
        replant(last, 10000000000L),
        replant(first, 20000000000L).unionByName(replant(last, 30000000000L)),
        sentinel)
    }
    s.readStream.schema(sentinel.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  /** events + late plants for the STREAM-STREAM JOIN path, three
    * ordered files: the corpus, a watermark-aging single VIEW row
    * (creates no inner-join output; its only job is the one-batch-lag
    * discipline), then the LATE batch — a SYNTHESIZED attribution
    * pair per source event (a 'view' at `ts − 30 min` and a
    * 'purchase' at `ts`, both keyed by the reserved negative user
    * `−(event_id + 1,000,000)` so each pair joins exactly itself and
    * NOTHING in the corpus): source events from the corpus's FIRST
    * 24 HOURS build pairs the late filter must DROP (a wrong
    * admission emits |first-day| extra pairs), source events from the
    * LAST 24 HOURS build pairs it must ADMIT (their attributions all
    * emit within the late batch; a wrong drop leaves them missing).
    *
    * The query declares `lateness = 48 hours` — the allowed-lateness
    * horizon is a per-deployment knob, and a feed attributing
    * purchases to views genuinely accepts day-scale lateness; the
    * wide horizon is also what gives both plant windows 20-hour-plus
    * margins from the watermark, so the ms-floored engine watermark
    * and the oracle's exact `max(ts) − 48 h` can never disagree on a
    * row. The reserved-user shift keeps the oracle exact a second
    * way: planted rows never probe corpus-side join state, so the
    * replay is independent of which corpus rows the engine has
    * evicted by the late batch. */
  private[graft] val JoinLateLateness = "48 hours"
  /** `sentinels = true` appends a FOURTH ordered file — one typed
    * view + purchase pair at 2030, user −1, mirroring
    * [[streamEventsWithJoinSentinels]] — for consumers whose final
    * answers only emit when the watermark passes an event-time window
    * (the chained as-of's argmax): the flush must come AFTER the late
    * batch, so late admission is decided against the corpus watermark
    * first and the 2030 advance only drains the finished windows. */
  private[graft] def streamEventsWithJoinLatePlant(s: SparkSession, d: String,
      sentinels: Boolean = false): DataFrame = {
    val base = graft.sources.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val cacheDir =
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-result-cache"
    val DayUs = 24L * 3600 * 1000000
    val key = if (sentinels) "eventsJoinLatePlant/l48h/pair30m/v2+sent"
              else "eventsJoinLatePlant/l48h/pair30m/v2"
    val (dir, _) = graft.ResultCache.materializeKeyedOrdered(
      key, Seq(base), cacheDir) {
      val mm = base.agg(
        min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"),
        min(col("user_id")).as("minUid")).head
      val (mnUs, mxUs) = (mm.getLong(0), mm.getLong(1))
      require(mm.getLong(2) >= 0L,
        "join late-plant reserves negative user ids for planted rows")
      // ms-flooring of the engine watermark is sub-millisecond — far
      // inside the 1-second require margins, so the exact form serves
      val wmUs = mxUs - 48L * 3600 * 1000000
      // dropped pairs: even the view leg (ts − 30 min) of the first
      // day must sit clearly behind the watermark; admitted pairs:
      // the view leg of the last day must sit clearly past it
      require(mnUs + DayUs <= wmUs - 1000000L,
        "join late-plant needs the first day clearly behind the 48 h watermark")
      require(mxUs - DayUs - 1800L * 1000000 >= wmUs + 1000000L,
        "join late-plant needs the last day clearly past the 48 h watermark")
      val aging = base.orderBy(col("ts").desc, col("event_id")).limit(1)
        .select(col("event_id"), col("ts"), lit(-999L).as("user_id"),
          lit("view").as("event_type"), col("value"), col("props"))
      val src = base.where(
        unix_micros(col("ts")) < mnUs + DayUs ||
        unix_micros(col("ts")) > mxUs - DayUs)
      val views = src.select(
        (col("event_id") + 10000000000L).as("event_id"),
        (col("ts") - expr("INTERVAL 30 MINUTES")).as("ts"),
        (-(col("event_id") + 1000000L)).as("user_id"),
        lit("view").as("event_type"), col("value"), col("props"))
      val purchases = src.select(
        (col("event_id") + 20000000000L).as("event_id"), col("ts"),
        (-(col("event_id") + 1000000L)).as("user_id"),
        lit("purchase").as("event_type"), col("value"), col("props"))
      def sent(id: Long, tpe: String): DataFrame = base.limit(1).select(
        lit(id).as("event_id"),
        lit("2030-01-01 00:00:00").cast("timestamp").as("ts"),
        lit(-1L).as("user_id"), lit(tpe).as("event_type"),
        lit(0.0).as("value"), lit("").as("props"))
      val ordered = Seq(base, aging, views.unionByName(purchases))
      if (sentinels)
        ordered :+ sent(-3L, "view").unionByName(sent(-4L, "purchase"))
      else ordered
    }
    s.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  /** Tumbling counts under a LATE-PLANTED second micro-batch
    * ([[streamEventsWithLatePlant]]): the first batch streams the whole
    * corpus, the second batch carries rows the watermark must DROP
    * (first-hour replants, doubled so a failed drop is hash-visible
    * through the max(n) collapse) and rows it must ADMIT (last-hour
    * replants). The DuckDB oracle replays the plant and the drop rule —
    * `window end ≤ max(ts) − lateness` — so watermark late-data
    * semantics are oracle-exercised, not documented. Same update-mode
    * max(n) collapse as [[tumblingParity]]. */
  val tumblingLateParity: Q = (s, d) =>
    runToTable(EventStreams.tumblingCounts(streamEventsWithLatePlant(s, d)),
      "st_tumbling_late", mode = "update", watermarkFlush = false)
      .groupBy("bucket", "event_type")
      .agg(max(col("n")).as("n"))

  /** Session windows under the LATE-PLANTED arrival
    * ([[streamEventsWithSessionLatePlant]]): the watermark must drop
    * the stale replants (whose wrong admission would FABRICATE
    * sessions — their originals closed and emitted batches ago) and
    * admit the in-horizon replants (which must MERGE into still-open
    * sessions and raise their counts). The DuckDB oracle replays the
    * plant and the session drop rule — a planted row survives iff its
    * per-event window end `ts + gap` is past `max(ts) − lateness` —
    * then sessionizes the kept multiset. Late-data semantics for the
    * APPEND-mode stateful path, complementing `st_tumbling_late`'s
    * update-mode aggregation. */
  val sessionLateParity: Q = (s, d) =>
    runToTable(EventStreams.sessionCounts(
        streamEventsWithSessionLatePlant(s, d)), "st_sessions_late")
      .where(col("user_id") >= 0)
      .select("user_id", "session_start", "session_end", "n_events")

  /** [[sessionMultiBatchParity]] under the ROCKSDB state-store provider
    * — the 100 TB streaming-state story: the default
    * HDFSBackedStateStoreProvider holds every store's state ON-HEAP,
    * which caps keyed-state cardinality at executor heap; RocksDB
    * spills state to local SSD with an off-heap block cache, the
    * provider Spark ships for exactly that scale. Same epoch-sliced
    * multi-batch session merges, same shared oracle — the provider is
    * an execution knob, never a semantics knob, and the run REQUIRES
    * the provider actually engaged (RocksDB custom metrics present in
    * the query progress) so a silent fallback to the default store
    * can't make the row vacuous. */
  val sessionRocksDbParity: Q = (s, d) =>
    sessionUnderRocksDb(s, d, "st_sessions_rocksdb")

  /** [[sessionRocksDbParity]] with CHANGELOG CHECKPOINTING enabled —
    * the remaining half of the 100 TB state story (round 12, r11
    * verdict item 2): without it, every commit uploads a full RocksDB
    * snapshot per store per batch, which at large keyed-state
    * cardinality makes checkpoint cost proportional to STATE SIZE; with
    * it, commits upload only the batch's changelog (delta) and snapshots
    * happen in the background, so checkpoint cost is proportional to the
    * batch's CHANGES. `CheckpointRecoverySpec` proves kill/restart
    * recovery replays those changelogs correctly; this row puts the same
    * knob under the HASH GATE, sharing the session-family oracle —
    * checkpoint mechanics must never be a semantics knob. */
  val sessionChangelogParity: Q = (s, d) =>
    sessionUnderRocksDb(s, d, "st_sessions_changelog",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true")

  private def sessionUnderRocksDb(s: SparkSession, d: String, name: String,
      extraConfs: (String, String)*): DataFrame =
    runUnderRocksDb(s,
      EventStreams.sessionCounts(streamEventsEpochsWithSentinel(s, d)),
      name, watermarkFlush = true, extraConfs: _*)
      .where(col("user_id") >= 0)
      .select("user_id", "session_start", "session_end", "n_events")

  /** Run any streaming frame to completion under the ROCKSDB
    * state-store provider (plus `extraConfs`), REQUIRING the provider
    * engaged (RocksDB custom metrics in the progress log) — shared by
    * the session rows and the stream-stream JOIN rows: the join's
    * four per-side stores are the BIGGER 100 TB state (every in-horizon
    * view/purchase buffered, vs one open session per user), so the
    * provider swap must be proven there too, not only on aggregation
    * state. Returns the raw memory-sink table; callers project. */
  private def runUnderRocksDb(s: SparkSession, df: DataFrame, name: String,
      watermarkFlush: Boolean, extraConfs: (String, String)*): DataFrame = {
    import scala.jdk.CollectionConverters._
    val qn = s"${name}_${runSeq.incrementAndGet()}"
    val confs = noDataBatchConfs(watermarkFlush) ++ Seq(
      "spark.sql.shuffle.partitions" -> StatePartitions.toString,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // RocksDB's documented write-path tune (optimization r17, guide
      // §5): tracking numTotalStateRows costs a get-before-every-put
      // in the hot write path and is a METRICS feature, not a
      // semantics one (Spark's own structured-streaming guide
      // recommends disabling it for write-heavy state when the metric
      // isn't consumed; no parity guard reads it — the provider
      // engagement check keys on customMetrics presence). ADOPTED
      // false on two isolated A/B pairs (plans/r17/ab_rocksdb_track_
      // {true,false}{1,2}.json): all 5 provider queries faster in both
      // runs, ×0.92–0.97 best-of-two, controls flat; oracle 5/5 after.
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" ->
        sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_TRACK_ROWS", "false")
    ) ++ extraConfs
    withEphemeralCkpt(qn) { ckpt =>
      val q = withStreamConfs(s, confs: _*) {
        df.writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      }
      if (!q.awaitTermination(300000L)) {
        q.stop()
        sys.error(s"streaming query $qn did not terminate within 300 s")
      }
      val engaged = q.recentProgress.flatMap(_.stateOperators).exists(
        _.customMetrics.keySet().asScala.exists(_.toLowerCase.contains("rocksdb")))
      require(engaged, "RocksDB state store provider did not engage — " +
        "no rocksdb custom metrics in the query progress")
    }
    s.table(qn)
  }

  /** [[intervalJoinMultiBatchParity]] under the ROCKSDB provider — the
    * round-13 verdict item 4: cross-batch JOIN state (views held in the
    * left store across epoch boundaries until their purchases arrive)
    * living in RocksDB instead of the on-heap default, under the same
    * shared `st_interval_join` oracle. Provider engagement is required,
    * and the epoch feed guarantees the state is actually exercised
    * (pairs straddle micro-batches by construction). */
  val intervalJoinRocksDbParity: Q = (s, d) => {
    val ev = streamEventsEpochsWithSentinel(s, d)
    runUnderRocksDb(s,
      EventStreams.viewPurchaseAttribution(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase")),
      "st_interval_join_rocksdb", watermarkFlush = false)
      .select("purchase_id", "view_id", "user_id")
  }

  /** [[intervalJoinRocksDbParity]] with CHANGELOG CHECKPOINTING — join
    * state is where changelog mode matters most at scale (the stores
    * hold a full horizon of events; snapshot-per-commit cost is
    * proportional to that state, changelog cost to the batch's
    * changes). Checkpoint mechanics must never be a semantics knob:
    * same oracle, same answer. */
  val intervalJoinChangelogParity: Q = (s, d) => {
    val ev = streamEventsEpochsWithSentinel(s, d)
    runUnderRocksDb(s,
      EventStreams.viewPurchaseAttribution(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase")),
      "st_interval_join_changelog", watermarkFlush = false,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true")
      .select("purchase_id", "view_id", "user_id")
  }

  /** Stream-stream interval join under the LATE-PLANTED arrival
    * ([[streamEventsWithJoinLatePlant]]): each join side's late filter
    * must DROP the stale replants (whose wrong admission would let
    * them match each other and emit pairs the original run already
    * closed the books on) and ADMIT the in-horizon replants, whose
    * view→purchase attributions must all emit within the late batch.
    * The DuckDB oracle replays the plant, the per-side drop rule
    * (`ts > max(ts) − lateness`), and the attribution join among the
    * admitted rows — late-data semantics for the JOIN-state path,
    * completing the trilogy with `st_tumbling_late` (update-mode agg)
    * and `st_sessions_late` (append-mode sessions). */
  val intervalJoinLateParity: Q = (s, d) => {
    val ev = streamEventsWithJoinLatePlant(s, d)
    runToTable(
      EventStreams.viewPurchaseAttribution(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"),
        lateness = JoinLateLateness),
      "st_interval_join_late", watermarkFlush = false)
      .select("purchase_id", "view_id", "user_id")
  }

  /** [[asofJoinParity]] under the LATE-PLANTED arrival — late-data
    * semantics for the CHAINED pipeline, completing the family:
    * `st_interval_join_late` proves the JOIN's per-side late filters
    * alone; here the same 48-hour horizon governs BOTH chained
    * stores. The join must drop the first-day replants and admit the
    * last-day ones (decided against the corpus watermark — the
    * sentinel file arrives strictly after the late batch), and the
    * downstream argmax must then ACCEPT every admitted pair — their
    * hour windows end ~24 h past the watermark, so a drop there would
    * be a late-filter mis-application, not eviction — and flush them
    * on the 2030 sentinel advance. Oracle: the corpus ranked as-of
    * replay UNION the admitted planted pairs (each reserved-negative
    * planted user carries exactly one view+purchase pair, so the pair
    * IS its own argmax; planted users never probe corpus state). The
    * guard keeps real users (≥ 0) and planted reserved users
    * (≤ −1,000,000), dropping the −999 aging row and the −1
    * sentinels. */
  val asofJoinLateParity: Q = (s, d) => {
    val ev = streamEventsWithJoinLatePlant(s, d, sentinels = true)
    runToTable(
      EventStreams.asofAttribution(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"),
        lateness = JoinLateLateness),
      "st_asof_join_late")
      .where(col("user_id") >= 0L || col("user_id") <= -1000000L)
      .select("purchase_id", "view_id", "user_id")
  }

  /** STREAMING AS-OF JOIN ([[EventStreams.asofAttribution]]) — two
    * CHAINED stateful operators under one hash gate: the stream-stream
    * interval join feeding a time-windowed per-purchase argmax, so each
    * purchase emits exactly its LATEST same-user view within the hour
    * (ties to max view_id — the batch exec's last-in-order rule). The
    * argmax rows only emit when the watermark passes their window end,
    * so this needs [[streamEventsWithJoinSentinels]] (per-side typed
    * 2030 sentinels) to flush the final windows; the sentinel pair's
    * own row never emits (its window end is past any watermark) and
    * the `user_id >= 0` guard drops it anyway. Oracle: the batch
    * as-of replay — row_number over (v_ts DESC, view_id DESC) = 1 on
    * the interval-join candidate set. */
  val asofJoinParity: Q = (s, d) => {
    val ev = streamEventsWithJoinSentinels(s, d)
    runToTable(
      EventStreams.asofAttribution(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase")),
      "st_asof_join")
      .where(col("user_id") >= 0)
      .select("purchase_id", "view_id", "user_id")
  }

  /** [[asofJoinParity]] under FORCED MULTI-BATCH epoch arrival
    * ([[streamEventsEpochsWithJoinSentinels]]): a view and the purchase
    * it wins can land in DIFFERENT micro-batches (one epoch cut is a
    * JOIN-straddle candidate by construction), and a purchase's argmax
    * window can receive candidates in one batch and flush in a later
    * one — BOTH chained state stores carry across batch boundaries.
    * Intermediate watermark passes flush early windows incrementally;
    * time-ordered epochs mean no real row is ever late. Shares
    * `st_asof_join`'s oracle (the answer must be slicing-invariant). */
  val asofJoinMultiBatchParity: Q = (s, d) => {
    val ev = streamEventsEpochsWithJoinSentinels(s, d)
    runToTable(
      EventStreams.asofAttribution(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase")),
      "st_asof_join_mb")
      .where(col("user_id") >= 0)
      .select("purchase_id", "view_id", "user_id")
  }

  /** [[asofJoinMultiBatchParity]] under the ROCKSDB provider with
    * CHANGELOG checkpointing — the CHAINED-state case the provider
    * rows above don't cover: `st_sessions_rocksdb` proves the provider
    * on AGGREGATION state and `st_interval_join_rocksdb` on JOIN
    * state, but the streaming as-of runs BOTH shapes in one query
    * (the interval join's four per-side stores feeding the windowed
    * argmax's store), with rows flowing store→store across the same
    * epoch-sliced batch boundaries. One run proves the provider swap
    * and changelog mode compose across a chained stateful pipeline —
    * engagement required, same slicing-invariant oracle. */
  val asofJoinRocksDbParity: Q = (s, d) => {
    val ev = streamEventsEpochsWithJoinSentinels(s, d)
    runUnderRocksDb(s,
      EventStreams.asofAttribution(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase")),
      "st_asof_join_rocksdb", watermarkFlush = true,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        -> "true")
      .where(col("user_id") >= 0)
      .select("purchase_id", "view_id", "user_id")
  }

  /** [[asofJoinParity]] over the MULTI-CANDIDATE PLANT
    * ([[streamEventsWithAsofPlant]]): the natural corpus never gives a
    * purchase more than one in-window view, so this run is where the
    * as-of REDUCTION itself is under the hash gate — each planted
    * purchase has three candidate views (two tied at the latest
    * timestamp) and must emit exactly the tie-max winner. Keeps the
    * planted rows (negative users ≤ −10) in the declared answer;
    * only the −1 sentinel user is dropped. */
  val asofJoinTieParity: Q = (s, d) => {
    val ev = streamEventsWithAsofPlant(s, d)
    runToTable(
      EventStreams.asofAttribution(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase")),
      "st_asof_join_tie")
      .where(col("user_id") =!= -1L)
      .select("purchase_id", "view_id", "user_id")
  }

  val queries: Map[String, Q] = Map(
    "st_asof_join" -> asofJoinParity,
    "st_asof_join_mb" -> asofJoinMultiBatchParity,
    "st_asof_join_rocksdb" -> asofJoinRocksDbParity,
    "st_asof_join_late" -> asofJoinLateParity,
    "st_asof_join_tie" -> asofJoinTieParity,
    "st_sessions" -> sessionParity,
    "st_sessions_mb" -> sessionMultiBatchParity,
    "st_sessions_rocksdb" -> sessionRocksDbParity,
    "st_sessions_changelog" -> sessionChangelogParity,
    "st_sessions_late" -> sessionLateParity,
    "st_tumbling_late" -> tumblingLateParity,
    "st_interval_join" -> intervalJoinParity,
    "st_interval_join_mb" -> intervalJoinMultiBatchParity,
    "st_interval_join_rocksdb" -> intervalJoinRocksDbParity,
    "st_interval_join_changelog" -> intervalJoinChangelogParity,
    "st_interval_join_late" -> intervalJoinLateParity,
    "st_interval_join_left" -> intervalJoinLeftParity,
    "st_interval_join_full" -> intervalJoinFullParity,
    "st_interval_join_semi" -> intervalJoinSemiParity,
    "st_exact_dedup" -> exactDedupParity,
    "st_exact_dedup_mb" -> exactDedupMultiBatchParity,
    "st_exact_dedup_parquet" -> exactDedupParquetParity,
    "st_cross_dedup" -> crossDedupParity,
    "st_funnel" -> funnelParity,
    "st_funnel_ttl" -> funnelTtlParity,
    "st_funnel_ttl_late" -> funnelTtlLateParity,
    "st_ewma_ttl_late" -> ewmaTtlLateParity,
    "st_ewma_ttl" -> ewmaTtlParity,
    "st_tumbling" -> tumblingParity,
    "st_sliding" -> slidingParity,
    "st_contaminated" -> contaminatedParity,
    "st_ewma" -> ewmaParity,
  )

  /** One as-of oracle, shared by the single-file and epoch-sliced
    * declared runs — the answer must be slicing-invariant. */
  private val asofJoinOracleSql =
    """SELECT purchase_id, view_id, user_id FROM (
         SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id,
           row_number() OVER (PARTITION BY p.event_id
             ORDER BY v.ts DESC, v.event_id DESC) AS rk
         FROM events v JOIN events p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
       WHERE rk = 1"""

  /** One session oracle, shared by the single-file and epoch-sliced
    * declared runs — the whole point is that slicing can't change it. */
  private val sessionOracleSql =
    """WITH marked AS (
         SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
                THEN 1 ELSE 0 END AS new_session
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       numbered AS (
         SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM marked)
       SELECT user_id, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS n_events
       FROM numbered GROUP BY user_id, sid"""

  /** DuckDB replay: the key-set semantics are plain SQL. */
  /** events ∪ the ADMITTED late plants, as oracle SQL — the literal
    * mirror of [[streamEventsTtlLatePlant]]'s file-4 admitted rows
    * (uids 10^10+k, ids 5·10^10+3+k / +6+k, `max(ts)` − 5/4 min,
    * values 1.25/2.5). The dropped views (− 50 min) are deliberately
    * ABSENT: the oracle states the answer after a correct drop. */
  private def ttlLatePlantedEvents: String =
    """SELECT user_id, ts, event_type, event_id, value FROM events
       UNION ALL
       SELECT 10000000000 + k,
              (SELECT max(ts) FROM events) - INTERVAL 5 MINUTE,
              'click', 50000000003 + k, 1.25
       FROM unnest([0, 1, 2]) AS t(k)
       UNION ALL
       SELECT 10000000000 + k,
              (SELECT max(ts) FROM events) - INTERVAL 4 MINUTE,
              'purchase', 50000000006 + k, 2.5
       FROM unnest([0, 1, 2]) AS t(k)"""

  /** The gap-rule funnel oracle over an arbitrary event source `src`
    * (columns user_id, ts, event_type, event_id, value): sessionize by
    * inactivity > TTL, keep the LAST segment, min-join funnel. Shared
    * verbatim by the base and late-plant variants so a future fix to
    * one flows to the other. */
  private def funnelTtlOracleOver(src: String): String =
    s"""WITH ev AS ($src),
        ordered AS (
          SELECT user_id, ts, event_type, event_id,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > ${EventStreams.StateTtlUs}
                 THEN 1 ELSE 0 END AS brk
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        seg AS (
          SELECT user_id, ts, event_type,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM ordered),
        lastseg AS (
          SELECT seg.user_id, seg.ts, seg.event_type FROM seg
          JOIN (SELECT user_id, max(sid) AS m FROM seg GROUP BY user_id) l
            ON seg.user_id = l.user_id AND seg.sid = l.m),
        v AS (SELECT user_id, MIN(ts) AS v_ts FROM lastseg
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM lastseg e
              JOIN v ON v.user_id = e.user_id AND e.ts >= v.v_ts
              WHERE e.event_type = 'click' GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM lastseg e
              JOIN c ON c.user_id = e.user_id AND e.ts >= c.c_ts
              WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        u AS (SELECT DISTINCT user_id FROM ev)
        SELECT CASE WHEN p.p_ts IS NOT NULL THEN 3
                    WHEN c.c_ts IS NOT NULL THEN 2
                    WHEN v.v_ts IS NOT NULL THEN 1
                    ELSE 0 END AS stage,
               COUNT(*) AS n_users
        FROM u LEFT JOIN v USING (user_id)
               LEFT JOIN c USING (user_id)
               LEFT JOIN p USING (user_id)
        GROUP BY 1"""

  /** The gap-rule EWMA oracle over an arbitrary event source `src` —
    * same sessionization, then ev_ewma's exact integer fold restricted
    * to each user's LAST segment. */
  private def ewmaTtlOracleOver(src: String): String =
    s"""WITH ev AS ($src),
        v AS (
          SELECT user_id, event_id, ts,
            CAST(floor(value * 1000000) AS BIGINT) AS vm
          FROM ev),
        ordered AS (
          SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                    > ${EventStreams.StateTtlUs}
               THEN 1 ELSE 0 END AS brk
          FROM v
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        seg AS (
          SELECT user_id, event_id, ts, vm,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM ordered),
        lastseg AS (
          SELECT seg.user_id, seg.event_id, seg.ts, seg.vm FROM seg
          JOIN (SELECT user_id, max(sid) AS m FROM seg GROUP BY user_id) l
            ON seg.user_id = l.user_id AND seg.sid = l.m),
        o AS (
          SELECT user_id, list(vm ORDER BY ts, event_id) AS xs
          FROM lastseg GROUP BY user_id)
        SELECT user_id, CAST(len(xs) AS BIGINT) AS n_events,
          list_reduce(xs, (acc, x) -> (300 * x + 700 * acc) // 1000)
            AS ewma_micro
        FROM o"""

  val oracle: Map[String, String] = Map(
    // gap-merge with session_window's STRICT boundary (>= gap starts a
    // new session; see sessionParity's Scaladoc) and end-exclusive
    // session_end = last event + gap
    "st_sessions" -> sessionOracleSql,
    // multi-batch arrival answers the SAME question — epoch slicing
    // (cross-batch session merges, intermediate watermark emission)
    // must not change the session set
    "st_sessions_mb" -> sessionOracleSql,
    // the state-store provider is an execution knob, never a semantics
    // knob: RocksDB-backed session state must produce the identical
    // session set (the run itself requires the provider engaged)
    "st_sessions_rocksdb" -> sessionOracleSql,
    // changelog checkpointing is a CHECKPOINT-mechanics knob (delta
    // uploads instead of full snapshots); the session set must be
    // byte-identical to the whole family
    "st_sessions_changelog" -> sessionOracleSql,
    // the session drop rule REPLAYED over the planted multiset: the
    // aging replay (file 1) is always kept, the late batch's rows
    // survive iff ts + gap is past max(ts) − lateness (first-bucket
    // replants die, last-20-minute replants merge — framed by
    // watermark distance so admission holds for any corpus shape),
    // then the same strict-boundary sessionization as st_sessions
    // runs over what was kept
    "st_sessions_late" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w,
                        max(ts) - INTERVAL 20 MINUTE AS src FROM events),
           b AS (SELECT time_bucket(INTERVAL '1 hour', min(ts)) AS b0
                 FROM events),
           kept AS (
             SELECT user_id, ts, event_id FROM events
             UNION ALL
             SELECT user_id, ts, event_id + 10000000000 FROM events, wm
             WHERE ts > wm.src
             UNION ALL
             SELECT user_id, ts, event_id + 20000000000 FROM events, b, wm
             WHERE time_bucket(INTERVAL '1 hour', ts) = b.b0
               AND ts + INTERVAL 30 MINUTE > wm.w
             UNION ALL
             SELECT user_id, ts, event_id + 30000000000 FROM events, wm
             WHERE ts > wm.src
               AND ts + INTERVAL 30 MINUTE > wm.w),
           marked AS (
             SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
             FROM kept
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           numbered AS (
             SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             FROM marked)
         SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
         FROM numbered GROUP BY user_id, sid""",
    // the watermark drop rule REPLAYED: the plant is a pure function of
    // the corpus (first-hour rows twice, last-hour rows once, all
    // epoch-aligned hour buckets), the watermark at the late batch is
    // max(ts) − 10 min (the whole corpus streamed in batch 0), and a
    // planted row survives iff its window END is past that watermark —
    // first-hour replants die, last-hour replants count
    "st_tumbling_late" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
           b AS (SELECT time_bucket(INTERVAL '1 hour', min(ts)) AS b0,
                        time_bucket(INTERVAL '1 hour', max(ts)) AS bn
                 FROM events),
           planted AS (
             SELECT ts, event_type, 2 AS copies FROM events, b
             WHERE time_bucket(INTERVAL '1 hour', ts) = b.b0
             UNION ALL
             SELECT ts, event_type, 1 AS copies FROM events, b
             WHERE time_bucket(INTERVAL '1 hour', ts) = b.bn),
           kept AS (
             SELECT ts, event_type, 1 AS copies FROM events
             UNION ALL
             -- file 1: the watermark-aging replay of the last bucket,
             -- admitted unconditionally (nothing in it is late)
             SELECT ts, event_type, 1 AS copies FROM events, b
             WHERE time_bucket(INTERVAL '1 hour', ts) = b.bn
             UNION ALL
             SELECT p.ts, p.event_type, p.copies FROM planted p, wm
             WHERE time_bucket(INTERVAL '1 hour', p.ts) + INTERVAL 1 HOUR
                   > wm.w)
         SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
                CAST(sum(copies) AS BIGINT) AS n
         FROM kept GROUP BY 1, 2""",
    "st_interval_join" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id
         FROM events v JOIN events p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""",
    // the as-of reduction of the same candidate set: per purchase, the
    // latest view in the window, ties to max view_id — the batch
    // exec's last-in-order rule replayed as a ranked join
    "st_asof_join" -> asofJoinOracleSql,
    "st_asof_join_mb" -> asofJoinOracleSql,
    // provider + changelog under the CHAINED pipeline: an execution
    // knob, never a semantics knob — same slicing-invariant oracle
    "st_asof_join_rocksdb" -> asofJoinOracleSql,
    // the chained pipeline under the late plant: corpus ranked as-of
    // replay + the admitted planted pairs (one pair per reserved
    // user, so each admitted pair is its own argmax; the drop rule is
    // the same per-side `ts > max(ts) − lateness` the join-state late
    // query replays)
    "st_asof_join_late" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 48 HOUR AS w FROM events),
           bounds AS (SELECT min(ts) AS mn, max(ts) AS mx FROM events),
           src AS (
             SELECT event_id, ts FROM events, bounds
             WHERE ts < bounds.mn + INTERVAL 24 HOUR
                OR ts > bounds.mx - INTERVAL 24 HOUR),
           planted AS (
             SELECT -(event_id + 1000000) AS user_id,
               ts - INTERVAL 30 MINUTE AS ts,
               event_id + 10000000000 AS event_id, 'view' AS event_type
             FROM src
             UNION ALL
             SELECT -(event_id + 1000000), ts,
               event_id + 20000000000, 'purchase'
             FROM src),
           admitted AS (
             SELECT p.* FROM planted p, wm WHERE p.ts > wm.w)
         SELECT purchase_id, view_id, user_id FROM (
           SELECT p.event_id AS purchase_id, v.event_id AS view_id,
             p.user_id AS user_id,
             row_number() OVER (PARTITION BY p.event_id
               ORDER BY v.ts DESC, v.event_id DESC) AS rk
           FROM events v JOIN events p
             ON v.user_id = p.user_id
            AND v.event_type = 'view' AND p.event_type = 'purchase'
            AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
         WHERE rk = 1
         UNION ALL
         SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id
         FROM admitted v JOIN admitted p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""",
    // the plant replayed: same ranked join over base ∪ planted rows
    // (plant arithmetic mirrored from streamEventsWithAsofPlant); the
    // rank partitions on (purchase, user) because a planted id
    // src*100+19 may collide with a real event id
    "st_asof_join_tie" ->
      """WITH src AS (
           SELECT event_id AS src_id, ts AS src_ts FROM events
           WHERE event_id % 499 = 0),
         planted AS (
           SELECT src_id*100+11 AS event_id,
                  src_ts - INTERVAL 10 MINUTE AS ts,
                  -src_id-10 AS user_id, 'view' AS event_type FROM src
           UNION ALL
           SELECT src_id*100+12, src_ts - INTERVAL 10 MINUTE,
                  -src_id-10, 'view' FROM src
           UNION ALL
           SELECT src_id*100+13, src_ts - INTERVAL 30 MINUTE,
                  -src_id-10, 'view' FROM src
           UNION ALL
           SELECT src_id*100+19, src_ts, -src_id-10, 'purchase' FROM src),
         all_ev AS (
           SELECT event_id, ts, user_id, event_type FROM events
           UNION ALL
           SELECT event_id, ts, user_id, event_type FROM planted)
         SELECT purchase_id, view_id, user_id FROM (
           SELECT p.event_id AS purchase_id, v.event_id AS view_id,
             p.user_id AS user_id,
             row_number() OVER (PARTITION BY p.event_id, p.user_id
               ORDER BY v.ts DESC, v.event_id DESC) AS rk
           FROM all_ev v JOIN all_ev p
             ON v.user_id = p.user_id
            AND v.event_type = 'view' AND p.event_type = 'purchase'
            AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
         WHERE rk = 1""",
    // the join drop rule REPLAYED: the plant synthesizes one
    // attribution pair per first-day/last-day source event (view at
    // ts − 30 min, purchase at ts, reserved negative user per pair so
    // planted rows join only each other); a planted row survives each
    // side's late filter iff ts is past max(ts) − 48 h lateness, and
    // the admitted survivors' attributions all emit
    "st_interval_join_late" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 48 HOUR AS w FROM events),
           bounds AS (SELECT min(ts) AS mn, max(ts) AS mx FROM events),
           src AS (
             SELECT event_id, ts FROM events, bounds
             WHERE ts < bounds.mn + INTERVAL 24 HOUR
                OR ts > bounds.mx - INTERVAL 24 HOUR),
           planted AS (
             SELECT -(event_id + 1000000) AS user_id,
               ts - INTERVAL 30 MINUTE AS ts,
               event_id + 10000000000 AS event_id, 'view' AS event_type
             FROM src
             UNION ALL
             SELECT -(event_id + 1000000), ts,
               event_id + 20000000000, 'purchase'
             FROM src),
           admitted AS (
             SELECT p.* FROM planted p, wm WHERE p.ts > wm.w)
         SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id
         FROM events v JOIN events p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
         UNION ALL
         SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id
         FROM admitted v JOIN admitted p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""",
    // the left-outer form: every view row, matched pairs as in
    // st_interval_join plus exactly one NULL-purchase row per view
    // with no qualifying purchase — the rows Spark emits only on
    // watermark-proven state eviction
    "st_interval_join_left" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id AS user_id
         FROM (SELECT * FROM events WHERE event_type = 'view') v
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON v.user_id = p.user_id
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""",
    // the full-outer form adds the other eviction direction: one
    // NULL-view row per purchase with no qualifying preceding view
    "st_interval_join_full" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           coalesce(v.user_id, p.user_id) AS user_id
         FROM (SELECT * FROM events WHERE event_type = 'view') v
         FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON v.user_id = p.user_id
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""",
    // the semi form: one row per view with at least one qualifying
    // purchase — re-emission on a second match breaks the row count
    "st_interval_join_semi" ->
      """SELECT v.event_id AS view_id, v.user_id AS user_id
         FROM (SELECT * FROM events WHERE event_type = 'view') v
         WHERE EXISTS (
           SELECT 1 FROM events p
           WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
             AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)""",
    // the epoch-sliced run answers the SAME question — cross-batch
    // join state (a view held for a later batch's purchase) must not
    // change the matched pair set
    "st_interval_join_mb" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id
         FROM events v JOIN events p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""",
    // the RocksDB/changelog runs swap the state-store PROVIDER under
    // the epoch-sliced join — an execution knob, never a semantics
    // knob: same cross-batch question, same oracle
    "st_interval_join_rocksdb" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id
         FROM events v JOIN events p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""",
    "st_interval_join_changelog" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id
         FROM events v JOIN events p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""",
    "st_exact_dedup" ->
      "SELECT DISTINCT md5(text) AS fp FROM documents",
    // the multi-batch run answers the SAME question — slicing must not
    // change the surviving key set
    "st_exact_dedup_mb" ->
      "SELECT DISTINCT md5(text) AS fp FROM documents",
    // the sink path must preserve the key set exactly — partitioned
    // parquet out, read back, same answer
    "st_exact_dedup_parquet" ->
      "SELECT DISTINCT md5(text) AS fp FROM documents",
    "st_cross_dedup" ->
      """WITH h AS (SELECT doc_id, md5(text) AS fp FROM documents)
         SELECT DISTINCT fp FROM h WHERE doc_id % 5 = 4
           AND fp NOT IN (SELECT fp FROM h WHERE doc_id % 5 <> 4)""",
    // THE ev_funnel oracle, by reference: the streaming machine and the
    // batch min-join formulation are the same funnel semantics, and a
    // future fix to one gate must flow to the other
    "st_funnel" -> graft.operators.Events.oracle("ev_funnel"),
    // the GAP rule replayed: per user, sessionize by inactivity > TTL
    // (ties share a timestamp so the split is order-independent), keep
    // the LAST segment, then the exact min-join funnel the
    // st_funnel/ev_funnel pair share — restricted to that segment.
    // Every user appears (u spans all of the source), stage 0 included.
    "st_funnel_ttl" -> funnelTtlOracleOver(
      "SELECT user_id, ts, event_type, event_id, value FROM events"),
    // the ADMITTED half of the timeout × lateness plant
    // (streamEventsTtlLatePlant): the dropped views appear NOWHERE in
    // the oracle — a failed engine drop walks the planted users to
    // stage 3 / folds a third EWMA value, and the hash rejects it;
    // literals mirror the Scala plant exactly
    "st_funnel_ttl_late" -> funnelTtlOracleOver(ttlLatePlantedEvents),
    // the same gap sessionization, then ev_ewma's exact integer fold
    // (list_reduce seeds from the first element; // truncates like DIV)
    // restricted to each user's LAST segment
    "st_ewma_ttl" -> ewmaTtlOracleOver(
      "SELECT user_id, ts, event_type, event_id, value FROM events"),
    "st_ewma_ttl_late" -> ewmaTtlOracleOver(ttlLatePlantedEvents),
    // same by-reference sharing: the online fold IS the batch fold
    "st_ewma" -> graft.operators.Events.oracle("ev_ewma"),
    "st_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
         COUNT(*) AS n FROM events GROUP BY 1, 2""",
    // each event belongs to the 4 hour-long windows whose starts are
    // the preceding four 15-minute marks (ev_sliding's replay, minus
    // the type split the streaming op doesn't make)
    "st_sliding" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts)
               - (k * to_minutes(15)) AS bucket, COUNT(*) AS n
         FROM events, unnest([0, 1, 2, 3]) AS t(k)
         GROUP BY 1""",
    // the flagged set: non-benchmark docs sharing >=1 3-shingle with
    // the benchmark slice (pl_contamination's dictionary, set-valued)
    "st_contaminated" ->
      s"""${graft.operators.Pipeline.duckShingles},
          bench AS (
            SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 20 = 0),
          corpus AS (
            SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id % 20 <> 0)
          SELECT DISTINCT doc_id
          FROM corpus JOIN bench USING (shingle)""",
  )
}
