package graft.mr

import graft.SparkSpec
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Tokenizers live outside the suite so Dataset closures don't capture
  * the (non-serializable) ScalaTest engine. */
object MrTestFns {
  def tokens(line: String): Seq[String] =
    line.split("\\s+").filter(_.nonEmpty).toSeq

  /** Associative, commutative fold over nullable strings: a null weighs
    * 1, any other value is its decimal weight. */
  def addWeights(a: String, b: String): String = {
    def w(s: String) = if (s == null) 1L else s.toLong
    (w(a) + w(b)).toString
  }
}

/** Structured MR key for the keys-need-total-equality contract test
  * (`MapReduce.scala:28-29`): top-level so the Dataset encoder derives
  * cleanly (no outer-instance capture). */
case class Bigram(a: String, b: String)

/** Differential tests against in-process Scala oracles — the reference's
  * own test strategy (`counting_words.py:15-36`, `word_set_example.py:
  * 15-34`) industrialized (SURVEY.md §5). */
class MapReduceSpec extends SparkSpec {
  import MrTestFns.tokens

  // A corpus with the properties FIXTURES.md §1 calls for: repeats,
  // punctuation (so \s+ and \w+ tokenizers differ), empty lines,
  // multi-space runs.
  private val corpus: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the  quick   brown fox",
    "",
    "hello, world! hello again - again",
    "nodes store key/value pairs; keys are 160-bit identifiers",
    "   leading and trailing   ",
    "UPPER lower Mixed UPPER",
  )

  private def records = {
    import spark.implicits._
    spark.createDataset(corpus.map(l => ("test", l)))
  }

  test("word count matches in-process oracle (counting_words.py semantics)") {
    import spark.implicits._
    val job = MapReduceJob[String, Long, Long](
      mapper = (_, v) => tokens(v).iterator.map(_ -> 1L),
      reducer = (k, vs) => (k, vs.sum),
      combiner = Some((k, vs) => (k, vs.sum)))
    val got = job.run(records).collect().toMap
    val oracle = corpus.flatMap(tokens).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == oracle)
  }

  test("case-class key: grouping follows encoded equality (keys need a total equality/hash)") {
    import spark.implicits._
    // the documented contract (MapReduce.scala:28-29): any key with a
    // total equality works — Spark groups on the ENCODED form, so a
    // structured key must group exactly like its value-equality classes
    val job = MapReduceJob[Bigram, Long, Long](
      mapper = (_, v) => {
        val t = tokens(v)
        t.zip(t.drop(1)).iterator.map { case (a, b) => Bigram(a, b) -> 1L }
      },
      reducer = (k, vs) => (k, vs.sum),
      combiner = Some((k, vs) => (k, vs.sum)))
    val got = job.run(records).collect().toMap
    val oracle = corpus
      .flatMap { l => val t = tokens(l); t.zip(t.drop(1)) }
      .groupBy(identity).view
      .map { case ((a, b), hits) => Bigram(a, b) -> hits.size.toLong }.toMap
    assert(got == oracle)
    // combiner path and plain path agree on the structured key too
    val plain = MapReduceJob[Bigram, Long, Long](job.mapper, job.reducer, None)
      .run(records).collect().toMap
    assert(plain == got)
  }

  test("word count without combiner gives identical result") {
    import spark.implicits._
    val withC = MapReduceJob[String, Long, Long](
      (_, v) => tokens(v).iterator.map(_ -> 1L), (k, vs) => (k, vs.sum),
      Some((k, vs) => (k, vs.sum)))
    val withoutC = withC.copy(combiner = None)
    assert(withC.run(records).collect().toMap == withoutC.run(records).collect().toMap)
  }

  test("distinct words matches in-process set oracle (word_set_example.py semantics)") {
    import spark.implicits._
    val job = MapReduceJob[String, Boolean, Boolean](
      (_, v) => tokens(v).iterator.map(_ -> true), (k, _) => (k, true),
      Some((k, _) => (k, true)))
    val got = job.run(records).collect().map(_._1).toSet
    assert(got == corpus.flatMap(tokens).toSet)
    // the reference harness asserts no duplicate keys ("Se partiio")
    assert(job.run(records).collect().length == got.size)
  }

  test("regex \\w+ tokenizer differs from whitespace on punctuation (fernan semantics)") {
    import spark.implicits._
    val re = "\\w+".r
    val job = MapReduceJob[String, Boolean, Boolean](
      (_, v) => re.findAllIn(v).map(_ -> true), (k, _) => (k, true))
    val got = job.run(records).collect().map(_._1).toSet
    val oracle = corpus.flatMap(l => re.findAllIn(l)).toSet
    assert(got == oracle)
    assert(got.contains("hello") && !got.contains("hello,"))
    assert(got.contains("160") && got.contains("bit")) // \w splits 160-bit
  }

  test("group-by average via (sum,count) accumulator (README.md:25-36 recipe)") {
    import spark.implicits._
    val rows = Seq(("rex", "4"), ("rex", "6"), ("fido", "3"), ("rex", "5"), ("fido", "1"))
    val ds = spark.createDataset(rows)
    val job = MapReduceJob[String, (Long, Long), Double](
      (k, v) => Iterator.single(k -> (v.toLong, 1L)),
      (k, vs) => { val (s, c) = vs.reduce((a, b) => (a._1 + b._1, a._2 + b._2)); (k, s.toDouble / c) },
      Some((k, vs) => (k, vs.reduce((a, b) => (a._1 + b._1, a._2 + b._2)))))
    val got = job.run(ds).collect().toMap
    assert(got == Map("rex" -> 5.0, "fido" -> 2.0))
  }

  /** `runReduced` against the listful `run` with `reducer = reduce` over
    * the whole value list; returns the shared result. */
  private def reducedMatchesRun[K, V](recs: Dataset[(String, String)],
      mapper: (String, String) => IterableOnce[(K, V)], reduce: (V, V) => V)(implicit
      ekv: Encoder[(K, V)], ek: Encoder[K]): Map[K, V] = {
    val full = MapReduceJob[K, V, V](mapper, (k, vs) => (k, vs.reduce(reduce)))
      .run(recs).collect().toMap
    val reduced = MapReduce.runReduced[K, V](recs, mapper, reduce).collect()
    assert(reduced.length == full.size, "runReduced emitted a key twice")
    assert(reduced.toMap == full)
    full
  }

  test("runReduced (streaming algebraic path) equals full-list reducer") {
    import spark.implicits._
    reducedMatchesRun[String, Long](records, (_, v) => tokens(v).iterator.map(_ -> 1L), _ + _)

    // case-class key: both sides group on the encoded form
    val bigrams = reducedMatchesRun[Bigram, Long](records, (_, v) => {
      val t = tokens(v)
      t.zip(t.drop(1)).iterator.map { case (a, b) => Bigram(a, b) -> 1L }
    }, _ + _)
    assert(bigrams(Bigram("the", "quick")) == 2L)

    // the (sum, count) average recipe of README.md:25-36
    val scores = spark.createDataset(
      Seq(("rex", "4"), ("rex", "6"), ("fido", "3"), ("rex", "5"), ("fido", "1")))
    val sums = reducedMatchesRun[String, (Long, Long)](scores,
      (k, v) => Iterator.single(k -> (v.toLong, 1L)),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    assert(sums == Map("rex" -> (15L, 3L), "fido" -> (4L, 2L)))

    val none = reducedMatchesRun[String, Long](spark.emptyDataset[(String, String)],
      (_, v) => tokens(v).iterator.map(_ -> 1L), _ + _)
    assert(none.isEmpty)

    // "every" is mapped in each of the four partitions, so its final
    // value is folded from four map-side partials
    val spread = spark.sparkContext.parallelize(
      (0 until 8).map(i => ("test", s"every w$i every")), 4).toDS()
    val counts = reducedMatchesRun[String, Long](spread,
      (_, v) => tokens(v).iterator.map(_ -> 1L), _ + _)
    assert(counts("every") == 16L && counts.size == 9)

    // a null value is a value, not an absent key: null weighs 1, so a
    // fold that restarts at a stored null loses counts
    val weighed = reducedMatchesRun[String, String](records,
      (_, v) => tokens(v).iterator.map(_ -> (null: String)), MrTestFns.addWeights)
    assert(weighed("the") == "3" && weighed("fox") == "2" && weighed("dog") == null)
  }

  test("runReduced plan: no ObjectHashAggregate; one shuffled record per distinct key per map task") {
    import spark.implicits._
    // two map tasks: {a, b} and {c, a}
    val two = spark.sparkContext.parallelize(
      Seq(("p0", "a b a b a"), ("p1", "c a c c")), 2).toDS()
    val ds = MapReduce.runReduced[String, Long](two,
      (_, v) => tokens(v).iterator.map(_ -> 1L), _ + _)
    assert(ds.collect().toMap == Map("a" -> 4L, "b" -> 2L, "c" -> 3L))
    val aqe = new AdaptiveSparkPlanHelper {}
    val plan = ds.queryExecution.executedPlan
    assert(aqe.collect(plan) { case a: ObjectHashAggregateExec => a }.isEmpty, plan)
    val exchanges = aqe.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, plan)
    assert(exchanges.head.metrics("shuffleRecordsWritten").value == 2 + 2)
  }

  /** `run` with a reducer that returns the key's values, sorted, against
    * an in-process group-by over the same mapper. */
  private def groupsMatchOracle[K, V](recs: Dataset[(String, String)],
      mapper: (String, String) => IterableOnce[(K, V)])(implicit
      ekv: Encoder[(K, V)], eks: Encoder[(K, Seq[String])],
      ek: Encoder[K]): Map[K, Seq[String]] = {
    val got = MapReduceJob[K, V, Seq[String]](mapper,
      (k, vs) => (k, vs.map(String.valueOf).sorted)).run(recs).collect()
    val oracle = recs.collect().toSeq.flatMap { case (k, v) => mapper(k, v).iterator.toSeq }
      .groupBy(_._1).view.mapValues(_.map(kv => String.valueOf(kv._2)).sorted).toMap
    assert(got.length == oracle.size, "run emitted a key twice")
    assert(got.toMap == oracle)
    oracle
  }

  test("run without combiner hands the reducer exactly the grouped value multiset") {
    import spark.implicits._
    val bigrams = groupsMatchOracle[Bigram, Long](records, (_, v) => {
      val t = tokens(v)
      t.zip(t.drop(1)).iterator.map { case (a, b) => Bigram(a, b) -> 1L }
    })
    assert(bigrams(Bigram("the", "quick")) == Seq("1", "1"))

    val scores = spark.createDataset(
      Seq(("rex", "4"), ("rex", "6"), ("fido", "3"), ("rex", "5"), ("fido", "1")))
    val pairs = groupsMatchOracle[String, (Long, Long)](scores,
      (k, v) => Iterator.single(k -> (v.toLong, 1L)))
    assert(pairs("rex") == Seq("(4,1)", "(5,1)", "(6,1)"))

    val nulls = groupsMatchOracle[String, String](records,
      (_, v) => tokens(v).iterator.map(_ -> (null: String)))
    assert(nulls("the") == Seq("null", "null", "null"))

    val none = groupsMatchOracle[String, Long](spark.emptyDataset[(String, String)],
      (_, v) => tokens(v).iterator.map(_ -> 1L))
    assert(none.isEmpty)

    // "every" is mapped in each of the four partitions, so its list is
    // concatenated from four map-side partial lists
    val spread = spark.sparkContext.parallelize(
      (0 until 8).map(i => ("test", s"every w$i every")), 4).toDS()
    val every = groupsMatchOracle[String, Long](spread,
      (_, v) => tokens(v).iterator.map(_ -> 1L))
    assert(every("every").size == 16 && every.size == 9)
  }

  test("run without combiner shuffles one record per distinct key per map task") {
    import spark.implicits._
    // two map tasks: {a, b} and {c, a}
    val two = spark.sparkContext.parallelize(
      Seq(("p0", "a b a b a"), ("p1", "c a c c")), 2).toDS()
    val ds = MapReduceJob[String, Long, Long](
      (_, v) => tokens(v).iterator.map(_ -> 1L), (k, vs) => (k, vs.sum)).run(two)
    assert(ds.collect().toMap == Map("a" -> 4L, "b" -> 2L, "c" -> 3L))
    val aqe = new AdaptiveSparkPlanHelper {}
    val plan = ds.queryExecution.executedPlan
    val exchanges = aqe.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, plan)
    assert(exchanges.head.metrics("shuffleRecordsWritten").value == 2 + 2)
  }

  test("map-side grouping flushed every few values equals the unbounded grouping") {
    val mapped = "the cat and the dog and the bird saw the cat".split(" ")
      .toSeq.map(_ -> 1L)
    def regrouped(out: Iterator[(String, Seq[Long])]): Map[String, Seq[Long]] =
      out.toSeq.groupBy(_._1).view.mapValues(_.flatMap(_._2).sorted).toMap
    val sum: Option[(String, Seq[Long]) => (String, Long)] = Some((k, vs) => (k, vs.sum))

    for (c <- Seq(None, sum)) {
      val unbounded = MapReduceJob.groupLocal(mapped.iterator, c, Int.MaxValue).toSeq
      val flushed = MapReduceJob.groupLocal(mapped.iterator, c, 3).toSeq
      assert(unbounded.size == mapped.map(_._1).distinct.size)
      assert(flushed.size > unbounded.size, "a bound of 3 never flushed")
      val merged = regrouped(flushed.iterator)
      if (c.isEmpty) assert(merged == regrouped(unbounded.iterator))
      else assert(merged.view.mapValues(_.sum).toMap ==
        unbounded.map { case (k, vs) => k -> vs.sum }.toMap)
    }
    assert(MapReduceJob.groupLocal(Iterator.empty[(String, Long)], sum, 3).isEmpty)
  }

  test("run with a non-product (K, V) encoder fails before planning") {
    import spark.implicits._
    val job = MapReduceJob[String, Long, Long](
      (_, v) => tokens(v).iterator.map(_ -> 1L), (k, vs) => (k, vs.sum))
    val e = intercept[IllegalArgumentException] {
      job.run(records)(Encoders.kryo[(String, Long)], implicitly, implicitly)
    }
    assert(e.getMessage.contains("2-field product (tuple) encoder"), e.getMessage)
  }
}
