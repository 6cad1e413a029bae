package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Command-line options, passed by `run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, inputs: String, out: String, setups: Int, warm: Int) {
  /** Task slots of the `local[N]` session. */
  val cores = 4
  def inputFile(name: String): String = s"$inputs/$name"
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("data", ""), m("inputs"), m("out"), m("setups").toInt,
      m.getOrElse("warm", "0").toInt)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case x => quote(x.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** The run record the JVM hands back to `run.py`: raw samples; the
  * medians and percentiles are computed there. */
final class Record {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted, failed = 0L

  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    tally(1, if (ok) Nil else Seq(s"$what: $detail"))

  /** `n` results checked, of which `bad` (one line each) were wrong. */
  def tally(n: Long, bad: Seq[String]): Unit = {
    attempted += n
    failed += bad.size
    failures ++= bad.take(20)
  }

  def write(path: String, tracer: Option[Tracer]): Unit = {
    fields("attempted") = attempted
    fields("failed") = failed
    fields("failures") = failures.take(20).toList
    fields("jvm") = Map("heap_max_mb" -> Jvm.heapMaxMb, "flags" -> Jvm.flags)
    Files.writeString(Paths.get(path), Json(fields))
    tracer.foreach { t =>
      val lines = t.allSpans.map(s => Json(Map("id" -> s.id, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent, "query" -> s.query)))
      Files.writeString(Paths.get(path + ".spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
  }
}

object Main {
  /** Builds a session and registers the workload's sources `n` times,
    * keeping the last session. Returns it with the set-up samples:
    * (session build s, source registration s). */
  def setup[S](a: Args, register: SparkSession => S): (SparkSession, S, Seq[(Double, Double)]) = {
    var last: Option[(SparkSession, S)] = None
    val samples = (1 to a.setups).map { i =>
      last.foreach(_._1.stop())
      val t0 = Clock.now()
      val spark = GraftSession.builder(a.cores, a.cores).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val t1 = Clock.now()
      val sources = register(spark)
      val t2 = Clock.now()
      last = Some((spark, sources))
      (Clock.secs(t1 - t0), Clock.secs(t2 - t1))
    }
    val (spark, sources) = last.get
    (spark, sources, samples)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val rec = new Record
    rec.fields("workload") = a.workload
    rec.fields("seed") = a.seed
    rec.fields("trace") = a.trace
    val tracer = a.workload match {
      case "mr_text" => Batch.run(a, rec, MrText)
      case "query_mix" | "graph_fixpoint" => Batch.run(a, rec, DeclaredQueries)
      case "event_stream" => EventStream.run(a, rec)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    rec.write(a.out, tracer)
  }
}
