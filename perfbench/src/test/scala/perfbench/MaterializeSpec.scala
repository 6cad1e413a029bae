package perfbench

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark times `collect()`, never `count()`: on an aggregate
  * query `count()` lets Catalyst prune every aggregate expression, so
  * it would time a much smaller plan than the one a caller runs. */
class MaterializeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    val s = graft.GraftSession.builder(2, 2).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    spark = s
    dir = Files.createTempDirectory("perfbench-q01").toString
    import s.implicits._
    val ship = Timestamp.valueOf("1998-08-01 00:00:00")
    (0 until 200).map { i =>
      (i / 4L, i.toLong, (i % 7).toLong, i % 4 + 1, (i % 50 + 1).toDouble, 1000.0 + i,
        (i % 11) / 100.0, (i % 9) / 100.0, Seq("A", "N", "R")(i % 3), Seq("O", "F")(i % 2), ship)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (dir != null) scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  private def aggregates(p: LogicalPlan): Int =
    p.collect { case a: Aggregate => a.aggregateExpressions.size }.sum

  test("q01_pricing_summary: count() prunes the aggregates that collect() computes") {
    val q01 = graft.SparkEntry.queries("q01_pricing_summary")(spark, dir)
    val collected = aggregates(q01.queryExecution.optimizedPlan)
    val counted = aggregates(q01.groupBy().count().queryExecution.optimizedPlan)
    assert(collected >= q01.columns.length)
    assert(counted < collected / 2, s"count plan keeps $counted of $collected aggregate expressions")
  }

  test("the timed action returns every row and every column") {
    val q01 = graft.SparkEntry.queries("q01_pricing_summary")(spark, dir)
    val rows = Batch.materialize(q01).map(_.asInstanceOf[org.apache.spark.sql.Row])
    assert(rows.length == q01.count())
    assert(rows.forall(_.length == q01.columns.length))
  }
}
