package graft.mr

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, AgnosticEncoders}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{IterableEncoder, ProductEncoder}
import org.apache.spark.sql.functions.input_file_name
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** Typed MapReduce façade — the reference engine's complete programming
  * model (reference `tasktracker.py:122-156, 209-296`) re-expressed as a
  * Spark Dataset pipeline.
  *
  * The reference contract:
  *   - `mapper(k, v) -> List[(K, V)]` — a flatMap over input records
  *     (reference `count_functions.py:1-6`; engine loop
  *     `tasktracker.py:122-139`),
  *   - `combiner(k, values) -> (K, V)` — applied once per map task over
  *     locally grouped output (`tasktracker.py:209-226, 273-278`),
  *   - `reducer(k, values) -> (K, R)` — applied to the fully shuffled
  *     value list per key (`tasktracker.py:228-271`).
  *
  * Spark mapping: `mapPartitions(map + group by key) → groupByKey →
  * mapGroups`. Each map task groups its output by key and ships one
  * `(key, values)` record per distinct key — the logical shape of the
  * reference's one-file-per-distinct-key shuffle
  * (`tasktracker.py:209-226, 287-296`), carried over Spark's hash
  * exchange instead of the filesystem. With a combiner the record holds
  * the one combined value, so shuffled bytes follow distinct keys per
  * task, the same property the reference's combiner provides.
  *
  * Contract notes carried over from the reference (SURVEY.md §7):
  *   - Keys need a total equality/hash (the reference silently requires
  *     hashability, `tasktracker.py:275`).
  *   - The combiner must be algebraic (commutative monoid): it runs per
  *     map-task flush window and the reducer then sees combined values —
  *     exactly like the reference, where every shipped example uses
  *     `combiner = reducer` (`count_functions.py:16-17`).
  *   - Output order is unspecified, matching the reference's set-union of
  *     per-key result files (`jobtracker.py:327-335`).
  *
  * At 100 TB: the map-side table is emitted and cleared every
  * `MapReduceJob.MaxBuffered` mapped values, so a task's buffer is
  * bounded by a constant, not by the records of its split; a key that
  * spans flushes ships one partial list (or combined value) per flush.
  * The reduce side is the sort-based `groupByKey`, which spills, but
  * `mapGroups` still hands the reducer all values of one key in memory —
  * the same requirement the reference has (it materializes
  * `(k, [values])` files). For algebraic aggregates prefer
  * [[MapReduce.runReduced]], which folds each key's values as they
  * stream past. For anything Catalyst can express, the relational
  * surface (`graft.operators.Relational`) does partial aggregation with
  * spill.
  */
final case class MapReduceJob[K, V, R](
    mapper: (String, String) => IterableOnce[(K, V)],
    reducer: (K, Seq[V]) => (K, R),
    combiner: Option[(K, Seq[V]) => (K, V)] = None) {

  /** Full reference semantics: reducer sees the complete (post-combine)
    * value list per key. */
  def run(records: Dataset[(String, String)])(implicit
      ekv: Encoder[(K, V)], ekr: Encoder[(K, R)], ek: Encoder[K]): Dataset[(K, R)] = {
    val m = mapper
    val r = reducer
    val c = combiner
    records.mapPartitions { it: Iterator[(String, String)] =>
      MapReduceJob.groupLocal(it.flatMap { case (rk, rv) => m(rk, rv) }, c,
        MapReduceJob.MaxBuffered)
    }(MapReduceJob.groupedEncoder(ekv))
      .groupByKey(_._1).mapGroups { (k, it) => r(k, it.flatMap(_._2).toSeq) }
  }
}

object MapReduceJob {
  /** Mapped values one map task buffers before it emits and clears its
    * table. A buffered value costs 24-48 bytes (its list cell and, unless
    * cached, its box), so 2^19 values hold a task's table near 12-25 MB
    * plus its distinct keys: 32 concurrent tasks fit in the user-memory
    * share of an 8 GB heap. A flush costs shuffled records only for keys
    * that recur in the next window; a 2^19-word window of text over a
    * 50,000-word vocabulary still ships at least ten times fewer
    * records than it mapped. */
  private val MaxBuffered = 1 << 19

  /** Map-task-local grouping — the reference's `_group_by_key` +
    * combiner loop (`tasktracker.py:209-226, 273-278`): one
    * `(key, values)` record per distinct key, or `(key, Seq(combined))`
    * with a combiner. The table is emitted and cleared every
    * `maxBuffered` values; that is legal because the combiner is
    * algebraic and the reducer already sees per-task partial lists. */
  private[mr] def groupLocal[K, V](mapped: Iterator[(K, V)],
      combiner: Option[(K, Seq[V]) => (K, V)],
      maxBuffered: Int): Iterator[(K, Seq[V])] = new Iterator[(K, Seq[V])] {
    private val table = new java.util.HashMap[K, mutable.ListBuffer[V]]
    private var out: Iterator[(K, Seq[V])] = Iterator.empty

    def hasNext: Boolean = out.hasNext || (mapped.hasNext && { fill(); out.hasNext })

    def next(): (K, Seq[V]) =
      if (hasNext) out.next() else throw new NoSuchElementException

    private def fill(): Unit = {
      table.clear()
      var n = 0
      while (n < maxBuffered && mapped.hasNext) {
        val (k, v) = mapped.next()
        var vs = table.get(k)
        if (vs == null) { vs = mutable.ListBuffer.empty[V]; table.put(k, vs) }
        vs += v
        n += 1
      }
      out = table.entrySet.iterator.asScala.map { e =>
        combiner match {
          case Some(f) => val (k, v) = f(e.getKey, e.getValue.toList); (k, v :: Nil)
          case None    => (e.getKey, e.getValue.toList)
        }
      }
    }
  }

  /** `(K, Seq[V])` encoder built from the fields of the job's
    * `(K, V)` tuple encoder, so `run` keeps its public signature. */
  private def groupedEncoder[K, V](ekv: Encoder[(K, V)]): Encoder[(K, Seq[V])] =
    AgnosticEncoders.agnosticEncoderFor(ekv) match {
      case ProductEncoder(_, Seq(k, v), _) =>
        val vs = IterableEncoder[Seq[V], V](ClassTag(classOf[Seq[_]]),
          v.enc.asInstanceOf[AgnosticEncoder[V]], v.enc.nullable,
          lenientSerialization = false)
        Encoders.tuple(k.enc.asInstanceOf[AgnosticEncoder[K]], vs)
      case other =>
        throw new IllegalArgumentException("MapReduceJob.run needs a (K, V) " +
          s"encoder that is a 2-field product (tuple) encoder, got ${other.getClass.getSimpleName}")
    }
}

object MapReduce {
  /** Pairwise-reduce variant for algebraic aggregates: no per-key value
    * list ever materializes. Each map task folds its mapped pairs into a
    * hash map with `reduce` (the reference's in-task combiner,
    * `tasktracker.py:209-226, 273-278`) and emits one record per
    * distinct key; the reduce side folds each key's shuffled values
    * with `reduce` as `mapGroups` streams them. Use when `reduce` is
    * associative+commutative — true for every example the reference
    * ships. */
  def runReduced[K, V](records: Dataset[(String, String)],
      mapper: (String, String) => IterableOnce[(K, V)],
      reduce: (V, V) => V)(implicit
      ekv: Encoder[(K, V)], ek: Encoder[K]): Dataset[(K, V)] = {
    val m = mapper
    val f = reduce
    records.mapPartitions { it: Iterator[(String, String)] =>
      val acc = new java.util.HashMap[K, V]
      it.foreach { case (rk, rv) =>
        m(rk, rv).iterator.foreach { case (k, v) =>
          val prev = acc.get(k)
          // a null value is a value: only an absent key starts a fold
          acc.put(k, if (prev == null && !acc.containsKey(k)) v else f(prev, v))
        }
      }
      acc.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue))
    }.groupByKey(_._1).mapGroups { (k, it) => (k, it.map(_._2).reduce(f)) }
  }

  /** Text-file records in the reference's shape: `(k, v)` with `k` the
    * input file (the reference's vestigial job url,
    * `tasktracker.py:111-117`) and `v` one line. */
  def textRecords(spark: SparkSession, path: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.textFile(path).select(input_file_name(), org.apache.spark.sql.functions.col("value"))
      .as[(String, String)]
  }

  /** Records from two DataFrame columns (key column, value column). */
  def columnRecords(ds: org.apache.spark.sql.DataFrame, keyCol: String,
      valueCol: String): Dataset[(String, String)] = {
    import ds.sparkSession.implicits._
    ds.selectExpr(s"CAST($keyCol AS STRING)", s"CAST($valueCol AS STRING)")
      .as[(String, String)]
  }
}
