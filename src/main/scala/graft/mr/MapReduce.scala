package graft.mr

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.input_file_name
import scala.collection.mutable
import scala.jdk.CollectionConverters._

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
  * Spark mapping: `flatMap → mapPartitions(local combine) → groupByKey →
  * mapGroups`. The shuffle is Spark's hash exchange — NOT the reference's
  * one-file-per-distinct-key filesystem shuffle (`tasktracker.py:287-296`),
  * which is its central scalability bug. Partial (map-side) combining
  * keeps shuffled bytes proportional to distinct keys per partition, the
  * same property the reference's combiner provides.
  *
  * Contract notes carried over from the reference (SURVEY.md §7):
  *   - Keys need a total equality/hash (the reference silently requires
  *     hashability, `tasktracker.py:275`).
  *   - The combiner must be algebraic (commutative monoid): Spark may
  *     apply it per partition and the reducer then sees combined values —
  *     exactly like the reference, where every shipped example uses
  *     `combiner = reducer` (`count_functions.py:16-17`).
  *   - Output order is unspecified, matching the reference's set-union of
  *     per-key result files (`jobtracker.py:327-335`).
  *
  * At 100 TB: `mapGroups` requires all values of one key in memory — the
  * same requirement the reference has (it materializes `(k, [values])`
  * files). For algebraic aggregates prefer [[MapReduce.runReduced]]:
  * its map side is a hash table bounded by the distinct keys of one
  * input split, and its reduce side is the sort-based `groupByKey`,
  * which spills and folds each key's values as they stream past. For
  * anything Catalyst can express, the relational surface
  * (`graft.operators.Relational`) does partial aggregation with spill.
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
    val mapped = records.flatMap { kv: (String, String) => m(kv._1, kv._2) }
    val combined = combiner match {
      case Some(c) => mapped.mapPartitions(localCombine(_, c))
      case None    => mapped
    }
    combined.groupByKey(_._1).mapGroups { (k, it) => r(k, it.map(_._2).toSeq) }
  }

  /** Map-task-local grouping + combine — the reference's
    * `_group_by_key` + combiner loop (`tasktracker.py:209-226, 273-278`).
    * Its per-key buffers hold every mapped value until the combiner
    * runs, so memory grows with the records of one task, not with its
    * distinct keys; only the emitted output is one record per key. */
  private def localCombine(it: Iterator[(K, V)],
      c: (K, Seq[V]) => (K, V)): Iterator[(K, V)] = {
    val acc = mutable.LinkedHashMap.empty[K, mutable.ArrayBuffer[V]]
    it.foreach { case (k, v) =>
      acc.getOrElseUpdate(k, mutable.ArrayBuffer.empty[V]) += v
    }
    acc.iterator.map { case (k, vs) => c(k, vs.toSeq) }
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
