package graft.streaming

import graft.SparkSpec

/** The declared streaming-parity queries must equal their batch twins
  * on the real corpus — the same parity the driver's oracle will
  * hash-check, pinned locally first. */
class StreamParitySpec extends SparkSpec {

  test("st_exact_dedup fp set == batch distinct-md5 set") {
    import org.apache.spark.sql.functions._
    val streamed = StreamParity.queries("st_exact_dedup")(spark, sfDir)
      .collect().map(_.getString(0)).toSet
    val batch = graft.sources.Tables.documents(spark, sfDir)
      .select(md5(col("text").cast("binary")).as("fp"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("st_cross_dedup fp set == pl_cross_dedup's fp column") {
    val streamed = StreamParity.queries("st_cross_dedup")(spark, sfDir)
      .collect().map(_.getString(0)).toSet
    val batch = graft.operators.Pipeline.queries("pl_cross_dedup")(spark, sfDir)
      .select("fp").collect().map(_.getString(0)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("st_funnel (mapGroupsWithState path) == batch ev_funnel stage counts") {
    val streamed = StreamParity.queries("st_funnel")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val batch = graft.operators.Events.queries("ev_funnel")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("st_tumbling (watermarked window-agg path) == batch hourly counts") {
    import org.apache.spark.sql.functions._
    val streamed = StreamParity.queries("st_tumbling")(spark, sfDir)
      .collect().map(r => ((r.getTimestamp(0), r.getString(1)), r.getLong(2))).toMap
    val batch = graft.sources.Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getTimestamp(0), r.getString(1)), r.getLong(2))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("st_contaminated flagged set == batch pl_contamination doc_ids") {
    val streamed = StreamParity.queries("st_contaminated")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val batch = graft.operators.Pipeline.queries("pl_contamination")(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("st_ewma (checkpointed fold state) == batch ev_ewma per-user fold") {
    val streamed = StreamParity.queries("st_ewma")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = graft.operators.Events.queries("ev_ewma")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("st_sliding (overlapping windows) == batch 15-min-anchored hourly counts") {
    import org.apache.spark.sql.functions._
    val streamed = StreamParity.queries("st_sliding")(spark, sfDir)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    val batch = graft.sources.Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("bucket"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("st_sessions (native session_window, append mode) == batch session_window") {
    import org.apache.spark.sql.functions._
    // the sharpest differential: the SAME session_window function in
    // batch mode — streaming append + watermark flush must lose nothing
    val streamed = StreamParity.queries("st_sessions")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val batch = graft.sources.Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // and the declared-oracle boundary claim: session_end is
    // end-exclusive last-event + gap, so every session is >= 30 min long
    assert(streamed.forall { case (_, s0, e0, _) =>
      e0.getTime - s0.getTime >= 30L * 60 * 1000 })
  }

  test("st_interval_join (stream-stream join) == batch interval join pairs") {
    import org.apache.spark.sql.functions._
    val streamed = StreamParity.queries("st_interval_join")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = graft.sources.Tables.events(spark, sfDir)
    val v = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("v_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val batch = v.join(p, "user_id")
      .where(col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming-parity queries are watermark/batch-slicing invariant: rerun is identical") {
    // a second full run (new memory sink, new checkpoint) must produce
    // the same key set — the determinism the driver's hash gate needs
    val a = StreamParity.queries("st_cross_dedup")(spark, sfDir)
      .collect().map(_.getString(0)).toSet
    val b = StreamParity.queries("st_cross_dedup")(spark, sfDir)
      .collect().map(_.getString(0)).toSet
    assert(a == b)
  }
}
