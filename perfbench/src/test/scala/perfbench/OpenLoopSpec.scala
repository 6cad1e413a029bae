package perfbench

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

class OpenLoopSpec extends AnyFunSuite {
  private val tickNs = 20L * 1000000L

  test("ticks stay on schedule when a send stalls, and the stall shows as lag") {
    val sent = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (phase, due, send time)
    val (ticks, spans) = new OpenLoop(tickNs).run(Seq(4, 6), (phase, due) => {
      sent += ((phase, due, Clock.now()))
      if (sent.size == 3) Thread.sleep(90) // a stall of about 4.5 ticks
    })
    assert(ticks.map(_.phase) == Seq(0, 0, 0, 0, 1, 1, 1, 1, 1, 1))
    val start = spans.head._1
    // due times never shift: tick k of the whole run is due at start + k * tick
    assert(ticks.map(_.dueNs) == (0 until 10).map(k => start + k * tickNs))
    assert(spans == Seq((start, start + 4 * tickNs), (start + 4 * tickNs, start + 10 * tickNs)))
    // the ticks delayed by the stall report it as lag, decreasing tick by tick
    val lags = ticks.map(_.lagNs / 1000000.0)
    assert(lags(3) > 60 && lags(4) > 40 && lags(5) > 20)
    assert(lags(3) > lags(4) && lags(4) > lags(5))
    assert(lags(9) < 15)
  }

  test("latency is measured from the due time, so a generator stall counts") {
    // a consumer that emits each event the moment it is sent
    val latencies = mutable.ArrayBuffer.empty[Double]
    var n = 0
    new OpenLoop(tickNs).run(Seq(5), (_, due) => {
      n += 1
      if (n == 2) Thread.sleep(50)
      latencies += (Clock.now() - due) / 1e6
    })
    assert(latencies(1) >= 50) // the stalled send itself
    assert(latencies(2) >= 25) // a later event waited behind it
  }

  test("percentiles interpolate linearly and carry their sample count") {
    val s = EventStream.summary(Seq(4.0, 1.0, 3.0, 2.0, 5.0))
    assert(s("p50") == 3.0 && s("n") == 5.0)
    assert(math.abs(s("p90") - 4.6) < 1e-12)
  }
}
