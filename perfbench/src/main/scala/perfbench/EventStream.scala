package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.io.Source

import graft.streaming.{Event, EventStreams}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Open-loop event stream through `EventStreams.dedupEvents`.
  *
  * A generator thread sends the pre-generated events on a 100 ms tick
  * schedule, phase by phase, whatever the stream's progress; each event's
  * latency runs from the tick it was due on to the `foreachBatch` sink
  * that collects it. Then a catch-up phase drains preloaded backlogs. */
object EventStream {
  val TickMs = 100L
  val EventTypes = Seq("view", "click", "purchase", "signup", "error")
  /** Bytes per record in `events.bin` (see gen.py `EVENT_DTYPE`). */
  val RecordBytes = 40

  final case class Phase(name: String, rate: Int, seconds: Double)

  def load(path: String): Array[Event] = {
    val buf = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.BIG_ENDIAN)
    Array.fill(buf.remaining / RecordBytes) {
      val id = buf.getLong(); val ts = buf.getLong(); val user = buf.getLong()
      val typ = buf.getInt(); val k = buf.getInt(); val v = buf.getDouble()
      val t = new Timestamp(ts / 1000)
      t.setNanos(((ts % 1000000) * 1000).toInt)
      Event(id, t, user, EventTypes(typ), v, s"""{"k": $k}""")
    }
  }

  /** Linear-interpolated percentile of sorted samples. */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val x = p * (sorted.length - 1)
      val i = x.toInt
      if (i + 1 >= sorted.length) sorted.last
      else sorted(i) + (x - i) * (sorted(i + 1) - sorted(i))
    }

  def summary(xs: Iterable[Double]): Map[String, Double] = {
    val s = xs.toArray.sorted
    Map("p50" -> pct(s, 0.5), "p90" -> pct(s, 0.9), "p99" -> pct(s, 0.99), "n" -> s.length.toDouble)
  }

  def run(a: Args, rec: Record): Option[Tracer] = {
    val events = load(a.inputFile("events.bin"))
    val plan = Source.fromFile(a.inputFile("phases.txt"))
    val lines = try plan.getLines().map(_.trim.split("\\s+")).filter(_.length == 3).toList
      finally plan.close()
    val special = Set("prime", "catchup")
    val phases = lines.filterNot(l => special(l(0))).map(l => Phase(l(0), l(1).toInt, l(2).toDouble))
    val catchup = lines.find(_(0) == "catchup").get
    val (backlog, catchups) = (catchup(1).toInt, catchup(2).toInt)
    val prime = lines.find(_(0) == "prime").get(1).toInt
    val nIds = events.iterator.map(_.event_id).max.toInt + 1

    val (spark, (input, frame), setups) = Main.setup(a, s => {
      import s.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = MemoryStream[Event]
      (in, EventStreams.dedupEvents(in.toDF()))
    })
    rec.fields("setup") = setups
    val tracer = if (a.trace) Some(new Tracer(spark)) else None

    // sink state: written by the stream thread, published through `emitted`
    val emitCount = new Array[Int](nIds)
    val emitNs = new Array[Long](nIds)
    val emitted = new AtomicInteger(0)
    val progress = mutable.ArrayBuffer.empty[(Long, StreamingQueryProgressRef)]

    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.synchronized {
        progress += ((Clock.now(), StreamingQueryProgressRef(e.progress)))
      }
    }
    tracer.foreach(_ => spark.streams.addListener(listener))

    val query = frame.writeStream
      .option("checkpointLocation", a.inputFile("ckpt"))
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val rows = batch.collect()
        val t = Clock.now()
        val col = batch.schema.fieldIndex("event_id")
        var fresh = 0
        rows.foreach { r =>
          val id = r.getLong(col).toInt
          emitCount(id) += 1
          if (emitCount(id) == 1) { emitNs(id) = t; fresh += 1 }
        }
        emitted.addAndGet(fresh)
        ()
      }
      .start()
    val streamStart = Clock.now()

    // generator bookkeeping, indexed by send position
    val due = new Array[Long](events.length)
    val phaseOf = new Array[Int](events.length)
    val isFresh = new Array[Boolean](events.length)
    var sent = 0
    var idsSent = 0
    val backlogs = mutable.ArrayBuffer.empty[(Int, Long)] // (phase, backlog after the tick)

    def send(n: Int, dueNs: Long, phase: Int): Unit = {
      val batch = events.slice(sent, sent + n)
      var i = sent
      batch.foreach { e =>
        due(i) = dueNs; phaseOf(i) = phase
        if (e.event_id >= idsSent) { isFresh(i) = true; idsSent = e.event_id.toInt + 1 }
        i += 1
      }
      input.addData(batch.toSeq)
      sent += batch.length
    }

    def waitDrained(timeoutS: Double): Boolean = {
      val end = Clock.now() + (timeoutS * 1e9).toLong
      while (emitted.get < idsSent && Clock.now() < end) Thread.sleep(2)
      emitted.get >= idsSent
    }

    // priming: one small batch before the schedule starts; its latency,
    // cold planning and code generation included, is the warm-up time
    val unmeasured = phases.size + 1
    val p0 = Clock.now()
    send(prime, p0, unmeasured)
    val primed = waitDrained(60)
    rec.fields("warmup_s") = Clock.secs(Clock.now() - p0)

    tracer.foreach(_.attach())
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs()
    val loop = new OpenLoop(TickMs * 1000000L)
    val ticksPer = phases.map(ph => math.round(ph.seconds * 1000 / TickMs).toInt)
    var ticks: Seq[OpenLoop.Tick] = Nil
    var spans: Seq[(Long, Long)] = Nil
    val generator = new Thread("perfbench-event-generator") {
      override def run(): Unit = {
        val r = loop.run(ticksPer, (pi, dueNs) => {
          send((phases(pi).rate * TickMs / 1000).toInt, dueNs, pi)
          backlogs += ((pi, idsSent.toLong - emitted.get))
        })
        ticks = r._1; spans = r._2
      }
    }
    generator.start()
    generator.join()
    val phaseSpans = phases.map(_.name).zip(spans).map { case (n, (s, e)) => (n, s, e) }
    val drained = waitDrained(60)
    val gcS = (Jvm.gcMs() - gc0) / 1e3
    tracer.foreach(_.drain())
    val measured = phaseSpans.filter(_._1 != "warmup")
    val (m0, m1) = (measured.map(_._2).min, measured.map(_._3).max)
    val layers = tracer.map(_.layers(Seq((0L, m0, m1, m0, m0)), m0, m1, a.cores))
    tracer.foreach(_.detach())

    // catch-up: preload a backlog at once, time until all of it is emitted
    val catchupPhase = phases.size
    val drains = (1 to catchups).map { c =>
      val traced = tracer.isDefined && c % 2 == 0
      if (traced) tracer.foreach(_.attach())
      val t0 = Clock.now()
      send(math.min(backlog, events.length - sent), t0, catchupPhase)
      val ok = waitDrained(60)
      val t1 = Clock.now()
      if (traced) tracer.foreach(_.detach())
      (Clock.secs(t1 - t0), traced, ok)
    }
    query.stop()
    tracer.foreach(_ => spark.streams.removeListener(listener))

    // latency of each id's first send, by phase; warm-up excluded
    val lat = phases.indices.map(_ => mutable.ArrayBuffer.empty[Double])
    (0 until sent).foreach { i =>
      if (isFresh(i) && phaseOf(i) < phases.size) {
        val id = events(i).event_id.toInt
        if (emitCount(id) > 0) lat(phaseOf(i)) += Clock.secs(emitNs(id) - due(i))
      }
    }
    // a measured phase is named <kind>.<cycle>: light and heavy alternate,
    // cycle by cycle. A slow spell of the shared host (CPU steal) raises the
    // latency of the cycles it covers; the lower quartile over the cycles
    // leaves out a spell that covers up to three of five.
    val measuredLat = phases.zip(lat).filter(_._1.name != "warmup")
    def grouped(key: String => String): Map[String, Seq[Double]] =
      measuredLat.groupBy(p => key(p._1.name)).map { case (k, ps) => k -> ps.flatMap(_._2) }
    val byKind = grouped(_.takeWhile(_ != '.')).map { case (k, xs) => k -> summary(xs) }
    val cycles = grouped(_.dropWhile(_ != '.').drop(1)).toSeq.sortBy(_._1.toInt).map(c => summary(c._2))
    def overCycles(q: String): Double = pct(cycles.map(_(q)).toArray.sorted, 0.25)
    val bad = (0 until idsSent).filter(emitCount(_) != 1)
      .map(id => s"event $id emitted ${emitCount(id)} times")
    rec.tally(idsSent, bad ++
      (if (primed && drained && drains.forall(_._3)) Nil else Seq("stream did not drain")))
    rec.fields("passes") = drains.map { case (s, traced, _) =>
      Map("wall_s" -> s, "traced" -> traced, "layers" -> Map.empty) }.toList
    rec.fields("catchup_backlog") = backlog
    rec.fields("latency") = byKind + ("all" -> Map("p50" -> overCycles("p50"),
      "p90" -> overCycles("p90"), "n" -> measuredLat.map(_._2.size).sum.toDouble,
      "cycles" -> cycles.size.toDouble))
    rec.fields("cycle_latency") = cycles.map(c => Map("p50" -> c("p50"), "p90" -> c("p90")))
    val measuredTicks = ticks.filter(t => phases(t.phase).name != "warmup")
    val measuredBacklog = backlogs.filter(b => phases(b._1).name != "warmup").map(_._2.toDouble)
    rec.fields("generator") = Map(
      "lag_s" -> summary(measuredTicks.map(t => Clock.secs(t.lagNs))),
      "backlog_events" -> summary(measuredBacklog),
      "sent" -> sent, "distinct_ids" -> idsSent)

    layers.foreach { base =>
      val ps = progress.synchronized(progress.toList)
        .filter { case (t, p) => t >= m0 && t <= m1 && p.rows > 0 }
        .map(_._2)
      def med(f: StreamingQueryProgressRef => Double): Double =
        pct(ps.map(f).toArray.sorted, 0.5)
      // micro-batch planning is Catalyst planning of the incremental plan;
      // it bypasses the QueryExecutionListener, so take it from progress
      val streamLayers = Map(
        "catalyst.planning_s" -> ps.map(_.ms("queryPlanning")).sum / 1e3,
        "stream.batches" -> ps.size.toDouble,
        "stream.rows_per_batch" -> (if (ps.isEmpty) 0.0 else ps.map(_.rows).sum / ps.size),
        "stream.trigger_s" -> med(_.ms("triggerExecution") / 1e3),
        "stream.plan_s" -> med(_.ms("queryPlanning") / 1e3),
        "stream.add_batch_s" -> med(_.ms("addBatch") / 1e3),
        "stream.wal_commit_s" -> med(_.ms("walCommit") / 1e3),
        "stream.state_commit_s" -> med(_.stateCommitMs / 1e3),
        "stream.state_rows" -> ps.lastOption.map(_.stateRows).getOrElse(0.0),
        "stream.state_bytes" -> ps.lastOption.map(_.stateBytes).getOrElse(0.0),
        "stream.backlog_events" -> summary(measuredBacklog)("p50"),
        "stream.generator_lag_s" -> summary(measuredTicks.map(t => Clock.secs(t.lagNs)))("p90"),
        "operators.build_s" -> 0.0,
        "jvm.gc_s" -> gcS,
        "jvm.heap_peak_mb" -> Jvm.heapPeakMb())
      rec.fields("stream_layers") = base ++ streamLayers
      // span tree: run > phase > trigger > job, by time containment
      val t = tracer.get
      val run = t.newId()
      t.span(run, "bench.run", streamStart, Clock.now(), 0L, 0L)
      val phaseIds = phaseSpans.map { case (n, s, e) =>
        val id = t.newId(); t.span(id, "bench.phase:" + n, s, e, run, 0L); (id, s, e) }
      def within(iv: Seq[(Long, Long, Long)], at: Long, orElse: Long) =
        iv.find { case (_, s, e) => s <= at && at < e }.map(_._1).getOrElse(orElse)
      val triggerIds = ps.map { p =>
        val end = p.startNs + (p.ms("triggerExecution") * 1e6).toLong
        val id = t.newId()
        t.span(id, "stream.trigger", p.startNs, end, within(phaseIds, p.startNs, run), 0L)
        (id, p.startNs, end)
      }
      t.reparent(sp => if (sp.name == "scheduler.job" && sp.parent == 0L)
        within(triggerIds, sp.start, within(phaseIds, sp.start, run)) else sp.parent)
    }
    spark.stop()
    tracer
  }
}

/** The fields of one `StreamingQueryProgress` the benchmark reads. */
final case class StreamingQueryProgressRef(rows: Double, durations: Map[String, Long],
    stateCommitMs: Double, stateRows: Double, stateBytes: Double, startNs: Long) {
  def ms(k: String): Double = durations.getOrElse(k, 0L).toDouble
}

object StreamingQueryProgressRef {
  import scala.jdk.CollectionConverters._
  def apply(p: org.apache.spark.sql.streaming.StreamingQueryProgress): StreamingQueryProgressRef = {
    val ops = p.stateOperators.toSeq
    StreamingQueryProgressRef(p.numInputRows.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.commitTimeMs.toDouble).sum, ops.map(_.numRowsTotal.toDouble).sum,
      ops.map(_.memoryUsedBytes.toDouble).sum,
      Clock.fromMs(java.time.Instant.parse(p.timestamp).toEpochMilli))
  }
}

/** Open-loop schedule: one `send` per tick, tick `k` of a phase due at
  * `phase start + k * tickNs`, whatever the consumer is doing. A tick
  * that is sent late records its lag but does not shift the ticks after
  * it, so a stall shows in the latency of every event it delays, measured
  * from the due time. */
final class OpenLoop(tickNs: Long, now: () => Long = () => Clock.now()) {
  /** Runs `ticks(i)` ticks of phase `i`, phases in order. Returns every
    * tick and each phase's scheduled `(start, end)`. */
  def run(ticks: Seq[Int], send: (Int, Long) => Unit): (Seq[OpenLoop.Tick], Seq[(Long, Long)]) = {
    val out = mutable.ArrayBuffer.empty[OpenLoop.Tick]
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    var start = now()
    ticks.zipWithIndex.foreach { case (n, phase) =>
      (0 until n).foreach { k =>
        val due = start + k * tickNs
        val wait = due - now()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val lag = now() - due
        send(phase, due)
        out += OpenLoop.Tick(phase, due, lag)
      }
      spans += ((start, start + n * tickNs))
      start += n * tickNs
    }
    (out.toSeq, spans.toSeq)
  }
}

object OpenLoop {
  final case class Tick(phase: Int, dueNs: Long, lagNs: Long)
}
