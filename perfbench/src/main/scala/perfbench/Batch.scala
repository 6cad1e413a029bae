package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.io.Source
import scala.util.control.NonFatal

import graft.{ResultCache, SparkEntry}
import graft.mr.{MapReduce, MapReduceJob}
import graft.sources.Tables
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.util.LongAccumulator

/** One timed unit: a public call that builds a Dataset, whose rows are
  * then collected to the caller. `check` sees every collected result with
  * its pass index (0 = the untimed warm-up pass) and returns an error. */
final case class Item(name: String, build: SparkSession => Dataset[_],
    check: (Dataset[_], Array[_], Int) => Option[String])

/** A workload made of passes over a fixed list of items. */
trait BatchWorkload {
  type S
  /** Source registration; timed as part of set-up. */
  def register(a: Args, spark: SparkSession): S
  def prepare(a: Args, spark: SparkSession, sources: S, rec: Record): Prepared
}

trait Prepared {
  def items: Seq[Item]
  def beforePass(): Unit = ()
  def afterItem(): Unit = ()
  /** Extra per-layer metrics of one traced pass, from its layer totals
    * and its (item, wall s) list. */
  def passLayers(layers: Map[String, Double], walls: Seq[(String, Double)]): Map[String, Double] =
    Map.empty
}

object Batch {
  final case class PassResult(wall: Double, traced: Boolean, layers: Map[String, Double])

  def run(a: Args, rec: Record, w: BatchWorkload): Option[Tracer] = {
    val (spark, sources, setups) = Main.setup(a, s => w.register(a, s))
    rec.fields("setup") = setups
    val p = w.prepare(a, spark, sources, rec)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val runSpan = tracer.map(_.newId()).getOrElse(0L)
    val runStart = Clock.now()
    val queries = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Runs every item once; pass 0 is the cold warm-up, and only a
      * `timed` pass records its per-item walls. */
    def pass(idx: Int, traced: Boolean, timed: Boolean): PassResult = {
      val t = tracer.filter(_ => traced)
      t.foreach { tr => tr.attach(); tr.resetBlockPeak() }
      Jvm.resetHeapPeak()
      val gc0 = Jvm.gcMs()
      p.beforePass()
      val passSpan = t.map(_.newId()).getOrElse(0L)
      val spans = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
      val walls = mutable.ArrayBuffer.empty[(String, Double)]
      val t0 = Clock.now()
      p.items.foreach { item =>
        val Seq(qid, buildId, collectId) = Seq.fill(3)(t.map(_.newId()).getOrElse(0L))
        val sc = spark.sparkContext
        t.foreach { tr =>
          sc.setLocalProperty(tr.QueryProp, qid.toString)
          sc.setLocalProperty(tr.SpanProp, buildId.toString)
        }
        val s = Clock.now()
        var b = s
        val outcome = try {
          val ds = item.build(spark)
          b = Clock.now()
          t.foreach(tr => sc.setLocalProperty(tr.SpanProp, collectId.toString))
          val rows = materialize(ds)
          Right((ds, rows))
        } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val e = Clock.now()
        t.foreach { tr =>
          sc.setLocalProperty(tr.QueryProp, null)
          sc.setLocalProperty(tr.SpanProp, null)
          tr.span(qid, "bench.query:" + item.name, s, e, passSpan, qid)
          tr.span(buildId, "operators.build", s, b, qid, qid)
          tr.span(collectId, "client.collect", b, e, qid, qid)
        }
        spans += ((qid, s, e, s, b))
        walls += ((item.name, Clock.secs(e - s)))
        if (timed) queries += Map("name" -> item.name, "pass" -> (idx - a.warm),
          "wall_s" -> Clock.secs(e - s), "build_s" -> Clock.secs(b - s))
        outcome match {
          case Left(err) => rec.check(item.name, ok = false, err)
          case Right((ds, rows)) =>
            val err = try item.check(ds, rows, idx)
              catch { case NonFatal(x) => Some(s"check failed: ${x.getMessage}") }
            if (idx > 0 || err.isDefined) rec.check(s"${item.name}@pass$idx", err.isEmpty, err.getOrElse(""))
        }
        p.afterItem()
      }
      val t1 = Clock.now()
      val wall = walls.map(_._2).sum
      val layers = t.map { tr =>
        tr.drain()
        val base = tr.layers(spans.toSeq, t0, t1, a.cores) ++ Map(
          "operators.build_s" -> spans.map { case (_, _, _, b0, b1) => Clock.secs(b1 - b0) }.sum,
          "jvm.gc_s" -> (Jvm.gcMs() - gc0) / 1e3,
          "jvm.heap_peak_mb" -> Jvm.heapPeakMb())
        tr.span(passSpan, "bench.pass", t0, t1, runSpan, 0L)
        tr.detach()
        base ++ p.passLayers(base, walls.toSeq)
      }.getOrElse(Map.empty)
      PassResult(wall, traced, layers)
    }

    val cache0 = cacheStats()
    val warm = pass(0, traced = false, timed = false)
    rec.fields("warmup_s") = warm.wall
    // a fixed number of untimed passes brings the JIT to the same steady
    // state in every run before the timed window starts
    (1 to a.warm).foreach(i => pass(i, traced = false, timed = false))
    val cacheWarm = cacheStats()
    val deadline = Clock.now() + (a.seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val minPasses = if (a.trace) 2 else 1
    while (passes.size < minPasses || Clock.now() < deadline)
      passes += pass(a.warm + passes.size + 1, a.trace && passes.size % 2 == 0, timed = true)
    val cacheEnd = cacheStats()
    tracer.foreach(_.span(runSpan, "bench.run", runStart, Clock.now(), 0L, 0L))
    rec.fields("passes") = passes.map(r => Map("wall_s" -> r.wall, "traced" -> r.traced,
      "layers" -> r.layers)).toList
    rec.fields("queries") = queries.toList
    rec.fields("result_cache") = Map(
      "builds" -> (cacheEnd._1 - cache0._1), "bytes" -> (cacheEnd._2 - cache0._2),
      "warmup_builds" -> (cacheWarm._1 - cache0._1), "timed_builds" -> (cacheEnd._1 - cacheWarm._1))
    spark.stop()
    tracer
  }

  /** The timed action: every row and column back to the caller. A
    * `count()` would let Catalyst prune the columns it does not need and
    * time a smaller plan than the caller's. */
  def materialize(ds: Dataset[_]): Array[_] = ds.collect()

  /** (committed entries, bytes) under the run's own ResultCache dir. */
  def cacheStats(): (Long, Long) = {
    val root = Paths.get(ResultCache.defaultDir)
    if (!Files.isDirectory(root)) (0L, 0L)
    else {
      val files = Files.walk(root)
      try {
        var entries, bytes = 0L
        files.forEach { f =>
          if (f.getFileName.toString == "_SUCCESS") entries += 1
          else if (Files.isRegularFile(f)) bytes += Files.size(f)
        }
        (entries, bytes)
      } finally files.close()
    }
  }

  def fingerprint(rows: Array[_]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(String.valueOf).sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Mapper functions of the MapReduce jobs. Each counts the records it
  * emits into the benchmark's own accumulator. */
object Mappers {
  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val token = java.util.regex.Pattern.compile("\\w+")

  /** `str.split()` tokens as `(word, 1)`, as the reference word count. */
  def words(acc: LongAccumulator): (String, String) => IterableOnce[(String, Long)] =
    (_, line) => {
      val toks = ws.split(line).filter(_.nonEmpty)
      acc.add(toks.length.toLong)
      toks.iterator.map(_ -> 1L)
    }

  /** `re.findall(r'\w+')` tokens as `(word, true)`. */
  def regexTokens(acc: LongAccumulator): (String, String) => IterableOnce[(String, Boolean)] =
    (_, line) => {
      val m = token.matcher(line)
      val out = mutable.ArrayBuffer.empty[(String, Boolean)]
      while (m.find()) out += (m.group() -> true)
      acc.add(out.size.toLong)
      out
    }
}

/** The reference's shipped jobs over the generated text corpus. */
object MrText extends BatchWorkload {
  type S = Dataset[(String, String)]

  def register(a: Args, spark: SparkSession): S =
    MapReduce.textRecords(spark, a.inputFile("text"))

  def prepare(a: Args, spark: SparkSession, records: S, rec: Record): Prepared = {
    import spark.implicits._
    val expected = mutable.HashMap.empty[String, Long]
    val src = Source.fromFile(a.inputFile("counts.tsv"))
    try src.getLines().foreach { l =>
      val i = l.indexOf('\t'); expected(l.substring(0, i)) = l.substring(i + 1).toLong
    } finally src.close()
    val acc = spark.sparkContext.longAccumulator("mr.mapped_records")

    def counts(rows: Array[_]): Option[String] = {
      val got = rows.collect { case (w: String, n: Long) => w -> n }
      if (got.length != rows.length) Some("unexpected row type")
      else if (got.length != expected.size) Some(s"${got.length} words, expected ${expected.size}")
      else got.collectFirst { case (w, n) if !expected.get(w).contains(n) =>
        s"count of '$w' is $n, expected ${expected.get(w)}" }
    }
    def distinct(rows: Array[_]): Option[String] = {
      val got = rows.collect { case (w: String, _) => w }.toSet
      if (got.size != rows.length) Some("duplicate or malformed words")
      else if (got != expected.keySet) Some(s"${got.size} distinct words, expected ${expected.size}")
      else None
    }

    val wcRun = MapReduceJob[String, Long, Long](
      mapper = Mappers.words(acc),
      reducer = (k, vs) => (k, vs.sum),
      combiner = Some((k, vs) => (k, vs.sum)))
    val distinctJob = MapReduceJob[String, Boolean, Boolean](
      mapper = Mappers.regexTokens(acc),
      reducer = (k, _) => (k, true))
    val jobs = Seq(
      Item("wc_run", _ => wcRun.run(records), (_, r, _) => counts(r)),
      Item("wc_reduced", _ => MapReduce.runReduced[String, Long](records, Mappers.words(acc), _ + _),
        (_, r, _) => counts(r)),
      Item("distinct_regex", _ => distinctJob.run(records), (_, r, _) => distinct(r)))

    new Prepared {
      val items: Seq[Item] = jobs
      override def beforePass(): Unit = acc.reset()
      override def passLayers(l: Map[String, Double], walls: Seq[(String, Double)]) = {
        val mapped = acc.value.toDouble
        val w = walls.toMap
        Map("mr.mapped_records" -> mapped,
          "mr.combine_ratio" -> l("shuffle.write_records") / math.max(1.0, mapped),
          "mr.run_s" -> w("wc_run"), "mr.reduced_s" -> w("wc_reduced"))
      }
    }
  }
}

/** Declared queries from the `SparkEntry.queries` registry, in the order
  * listed in the run's `queries.txt`. The warm-up result of each is
  * written for the DuckDB oracle check; every timed result must match
  * it row for row. */
object DeclaredQueries extends BatchWorkload {
  type S = Unit

  def register(a: Args, spark: SparkSession): Unit = Tables.registerAll(spark, a.data)

  def prepare(a: Args, spark: SparkSession, sources: Unit, rec: Record): Prepared = {
    val src = Source.fromFile(a.inputFile("queries.txt"))
    val names = try src.getLines().map(_.trim).filter(_.nonEmpty).toList finally src.close()
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(a.inputFile("oracle_sql.json")),
      Json(names.flatMap(n => oracle.get(n).map(n -> _)).toMap))
    rec.fields("query_names") = names
    val fps = mutable.HashMap.empty[String, String]
    val sourceViews = Tables.all.toSet

    new Prepared {
      val items: Seq[Item] = names.map { n =>
        val fn = registry.getOrElse(n, throw new IllegalArgumentException(s"no query $n"))
        Item(n, s => fn(s, a.data), (ds, rows, idx) =>
          if (idx == 0) {
            fps(n) = Batch.fingerprint(rows)
            val out = a.inputFile(s"results/$n")
            val list = java.util.Arrays.asList(rows.map(_.asInstanceOf[Row]): _*)
            spark.createDataFrame(list, ds.schema).coalesce(1).write.parquet(out)
            None
          } else if (fps.get(n).contains(Batch.fingerprint(rows))) None
          else Some("result differs from the oracle-checked warm-up result"))
      }
      /** Releases blocks a query pinned for its own lifetime, as the
        * engine's Verify main does between queries. */
      override def afterItem(): Unit = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.catalog.listTables().collect()
          .filter(t => t.isTemporary && !sourceViews(t.name))
          .foreach(t => spark.catalog.dropTempView(t.name))
      }
    }
  }
}
