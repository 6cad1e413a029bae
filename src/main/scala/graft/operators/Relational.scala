package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.Exact.{dsum, davg, sqlSum, sqlAvg}

/** Relational query surface over the TPC-H-ish corpus.
  *
  * The reference engine can only express scan → flatMap → combine → shuffle
  * → reduce (SURVEY.md §2.1); everything here is the declared relational
  * extension surface (SURVEY.md §2.3) built on Catalyst so that pushdown,
  * pruning, partial aggregation and AQE come for free. Scale notes per
  * query explain why the plan survives 100 TB.
  *
  * Oracle discipline: every double aggregate goes through [[Exact]] so the
  * result is accumulation-order independent and hash-comparable against
  * DuckDB.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** TPC-H Q1 — pricing summary. One wide scan, partial agg map-side,
    * 4-group output: the shuffle moves ~nothing at any scale. */
  private val q01: Q = (s, d) => q01Over(Tables.lineitem(s, d))

  /** [[q01]] routed through an ORC ROUNDTRIP (round 12, r11 verdict
    * item 4 — the last file-format asymmetry: `Sinks.orc` wrote ORC but
    * nothing declared read it): lineitem is written once as a
    * `_SUCCESS`-committed ORC copy (snapshot-keyed, so it rebuilds the
    * moment the parquet changes) and the identical aggregation runs
    * over [[graft.sources.Tables.orcTable]]. The oracle is q01's own
    * SQL over the ORIGINAL parquet — the format swap must be
    * hash-invisible, including the timestamp filter's pushdown
    * semantics and double accumulation. */
  private val q01Orc: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val (dir, _) = graft.ResultCache.materializeKeyedOrc(
      "orcRoundtrip/lineitem/v1", Seq(li), graft.ResultCache.defaultDir)(li)
    q01Over(Tables.orcTable(s, dir))
  }

  private def q01Over(lineitem: DataFrame): DataFrame =
    lineitem
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        Exact.dsumRaw(Exact.chargeProd(col("l_extendedprice"), col("l_discount"), col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q6 — selective filter + global sum. Predicates push to parquet;
    * single-row result, no shuffle pressure. */
  private val q02: Q = (s, d) =>
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
             col("l_shipdate") <  to_timestamp(lit("1997-01-01")) &&
             col("l_discount").between(0.04, 0.06) && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** Customer ⋈ orders ⋈ lineitem revenue by market segment. customer is
    * the small side at every scale relative to lineitem → broadcast it;
    * orders⋈lineitem shuffles on orderkey once. */
  private val q03: Q = (s, d) => {
    val c = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(Skew.broadcastIfSmall(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
  }

  /** Semi join (EXISTS): orders having any heavy line item, counted by
    * priority. left_semi never multiplies rows — safe at any fan-in. */
  private val q04: Q = (s, d) => {
    val heavy = Tables.lineitem(s, d)
      .where(col("l_quantity") >= 45).select("l_orderkey")
    Tables.orders(s, d)
      .join(heavy, col("o_orderkey") === heavy("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
  }

  /** TPC-H Q5 shape — fact ⋈ three dims. All dims broadcast (supplier,
    * nation, region stay tiny at any SF); zero shuffle on the fact side
    * until the final 25-group agg. */
  private val q05: Q = (s, d) => {
    val l  = Tables.lineitem(s, d).select("l_suppkey", "l_extendedprice", "l_discount")
    val su = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val n  = Tables.nation(s, d).select("n_nationkey", "n_regionkey", "n_name")
    val r  = Tables.region(s, d).select("r_regionkey", "r_name")
    l.join(Skew.broadcastIfSmall(su), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  /** Anti join (NOT EXISTS): customers that never ordered. */
  private val q06: Q = (s, d) => {
    val o = Tables.orders(s, d).select("o_custkey")
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_lonely"))
  }

  /** TPC-H Q13 — outer join + double aggregation (orders-per-customer
    * histogram). count(o_orderkey) counts non-null = orders actually
    * matched. */
  private val q07: Q = (s, d) => {
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    Tables.customer(s, d).select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy("n_orders").agg(count(lit(1)).as("n_customers"))
  }

  /** DISTINCT → hash aggregate; map-side partial dedup keeps the shuffle
    * proportional to distinct values (6 rows), not input rows. */
  private val q08: Q = (s, d) =>
    Tables.lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()

  /** Broadcast dim join + COUNT(DISTINCT): partial distinct sets are
    * merged per group; p_brand keeps cardinality tiny. */
  private val q09: Q = (s, d) => {
    val p = Tables.part(s, d).select("p_partkey", "p_brand")
    Tables.lineitem(s, d).select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(Skew.broadcastIfSmall(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        countDistinct(col("l_suppkey")).as("n_supp"),
        count(lit(1)).as("n_items"))
  }

  /** Top-k by aggregate: agg first (shrinks to |customers|), then a global
    * top-10 — Spark's TakeOrderedAndProject avoids a full sort. */
  private val q10: Q = (s, d) => {
    val c = Tables.customer(s, d).select("c_custkey", "c_name")
    Tables.orders(s, d).select("o_custkey", "o_totalprice")
      .join(Skew.broadcastIfSmall(c), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(dsum(col("o_totalprice")).as("total_spent"), count(lit(1)).as("n_orders"))
      .orderBy(col("total_spent").desc, col("c_custkey"))
      .limit(10)
  }

  /** Window: per-partition top-3 by row_number. Partition count =
    * |priorities| is small here, but the pattern (rank-filter) pushes the
    * limit before any downstream join at scale. */
  private val q11: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= 3)
  }

  /** Running total window. The sum runs over DECIMAL so the result is
    * association-independent (DuckDB evaluates sliding frames with a
    * segment tree — a double sum would differ in the low bits). */
  private val q12: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d).where(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("running_total"))
  }

  /** lag() — per-user event deltas, deterministic order via (ts, id). */
  private val q13: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d).where(col("user_id") < 50)
      .select(col("user_id"), col("event_id"),
        (col("value") - lag(col("value"), 1).over(w)).as("delta"))
  }

  /** ROLLUP — hierarchical subtotals in one pass (partial aggregation
    * applies per grouping set). */
  private val q14: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  /** CUBE over two order dimensions. */
  private val q15: Q = (s, d) =>
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))

  /** UNION (distinct) of two key sets. */
  private val q16: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey").as("nk"))
      .union(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))
      .distinct()

  /** INTERSECT: customers with both open and finished orders. */
  private val q17: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.where(col("o_orderstatus") === "O").select(col("o_custkey").as("ck"))
      .intersect(o.where(col("o_orderstatus") === "F").select(col("o_custkey").as("ck")))
  }

  /** EXCEPT: ordering customers minus big spenders. */
  private val q18: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.select(col("o_custkey").as("ck"))
      .except(o.where(col("o_totalprice") > 400000).select(col("o_custkey").as("ck")))
  }

  /** GROUP BY … HAVING on the aggregate. */
  private val q19: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .where(col("sum_qty") > 900)

  /** Scalar subquery: orders 1.5× above the global mean. The single-row
    * aggregate is broadcast — no correlated re-evaluation. */
  private val q20: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val avgDf = o.agg(davg(col("o_totalprice")).as("av"))
    o.join(broadcast(avgDf))
      .where(col("o_totalprice") > lit(1.5) * col("av"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n_big"))
  }

  /** TPC-H Q7 shape — nation-pair trade flows: fact joins through two
    * different dimension paths (supplier nation, customer nation). Both
    * nation sides broadcast; the only big shuffle is lineitem⋈orders. */
  private val q24: Q = (s, d) => {
    val l = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val su = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val n1 = Tables.nation(s, d).select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d).select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Skew.broadcastIfSmall(c), col("o_custkey") === col("c_custkey"))
      .join(Skew.broadcastIfSmall(su), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("snk"))
      .join(broadcast(n2), col("c_nationkey") === col("cnk"))
      .where(col("supp_nation") < col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("y"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  /** TPC-H Q12 shape — order-priority accounting by ship month. */
  private val q25: Q = (s, d) => {
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    val o = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
          .cast("long").as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
          .cast("long").as("low_line_count"))
  }

  /** TPC-H Q14 shape — promo-type revenue share: ratio of two exact
    * decimal sums (one IEEE division → oracle-deterministic). */
  private val q26: Q = (s, d) => {
    val p = Tables.part(s, d).select("p_partkey", "p_type")
    Tables.lineitem(s, d).select("l_partkey", "l_extendedprice", "l_discount")
      .join(Skew.broadcastIfSmall(p), col("l_partkey") === col("p_partkey"))
      .agg((
        sum(when(col("p_type").contains("brushed"),
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") * 100.0 /
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")).cast("double")
      ).as("promo_share"))
  }

  /** TPC-H Q16 shape — supplier diversity per (brand, size band),
    * excluding one brand: COUNT(DISTINCT) after a broadcast dim join. */
  private val q27: Q = (s, d) => {
    val p = Tables.part(s, d).where(col("p_brand") =!= "Brand#11")
      .select("p_partkey", "p_brand", "p_size")
    Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
      .join(Skew.broadcastIfSmall(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), (col("p_size") % 5).as("size_band"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** TPC-H Q19 shape — disjunctive multi-clause predicate; Catalyst
    * normalizes the OR-of-ANDs and still pushes the shared join key. */
  private val q28: Q = (s, d) => {
    val p = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
    Tables.lineitem(s, d).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(Skew.broadcastIfSmall(p), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30) && col("p_size").between(1, 15)))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
  }

  private val priorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** PIVOT: order counts per status × priority. Explicit value list (a
    * pivot without one scans twice to discover values); count nulls
    * coalesced to 0 to match the oracle's CASE-sum formulation. */
  private val q21: Q = (s, d) => {
    val p = Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", priorities)
      .count()
    priorities.foldLeft(p) { (df, pr) =>
      df.withColumn(pr, coalesce(col(s"`$pr`"), lit(0L)))
    }
  }

  /** UNPIVOT (melt): the inverse reshape, via stack(). */
  private val q22: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(dsum(col("l_quantity")).as("qty"), dsum(col("l_extendedprice")).as("price"))
      .selectExpr("l_returnflag",
        "stack(2, 'qty', qty, 'price', price) AS (metric, value)")

  /** Correlated scalar subquery (TPC-H Q17 shape) through the SQL path —
    * Catalyst decorrelates it into an aggregate + join; the DataFrame
    * never materializes a per-row subquery. */
  private val q23: Q = (s, d) => {
    // Unique view name per invocation (a fixed name collides under
    // concurrent use of one session); safe to drop right after sql() —
    // analysis resolves the plan eagerly.
    val v = s"lineitem_q23_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Tables.lineitem(s, d).createOrReplaceTempView(v)
    val out = s.sql(
      s"""SELECT l_partkey, ${"CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)"} AS small_rev
          FROM $v l1
          WHERE l_quantity < (
            SELECT 0.5 * AVG(l_quantity) FROM $v l2
            WHERE l2.l_partkey = l1.l_partkey)
          GROUP BY l_partkey""")
    s.catalog.dropTempView(v)
    out
  }

  /** NTILE deciles: equal-frequency bucketing of customers by account
    * balance — the histogram/equi-depth-binning window op. One global
    * sort (NTILE is inherently total-order); at 100 TB the same output
    * comes from `approxQuantile` cutpoints + a narrow bucket map — the
    * scale path made RUNNABLE in [[ntileApprox]]; here the exact form is
    * the declared contract. Ties broken by custkey so both engines
    * bucket identically. */
  private val q29: Q = (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"))
      .withColumn("decile", ntile(10).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c_acctbal"), col("c_custkey"))))
      .groupBy("decile")
      // min/max are selections, not accumulations — deterministic on
      // doubles without the decimal-cast dsum treatment
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))

  /** The runnable 100 TB twin of [[q29]] (same shape `pl_token_budget`
    * got for its scale path): decile boundaries from `approxQuantile`
    * (bounded-state KLL-style sketch, one pass, rank error ≤ ε·N), then
    * bucket assignment is a NARROW map — count the cutpoints below each
    * value — followed by one tiny aggregate. No global sort, no window,
    * no single-task stage anywhere; the exact window form stays the
    * declared oracle contract. [[RelationalPlanSpec]] bounds the
    * bucket-size deviation and asserts the sort-free plan. */
  private[graft] def ntileApprox(s: SparkSession, d: String,
      n: Int = 10, eps: Double = 0.001): DataFrame = {
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_acctbal"))
    val cuts = cust.stat.approxQuantile("c_acctbal",
      (1 until n).map(_.toDouble / n).toArray, eps)
    val arr = cuts.mkString("array(", ",", ")")
    cust
      .withColumn("decile",
        expr(s"1 + size(filter($arr, c -> c < c_acctbal))"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
  }

  /** [[ntileApprox]] as a DECLARED, driver-gated query (the same
    * promotion `pl_token_budget_approx` got): bucket boundaries are
    * sketch-dependent, so the declared output is the deterministic
    * context (exact customer count, bucket count) plus tolerance
    * booleans the Spark side must earn — `sizes_within_tol` (every
    * bucket within the approxQuantile rank-error bound of N/10) and
    * `spans_ordered` (consecutive deciles' [lo, hi] ranges never
    * overlap). */
  private val q29approx: Q = (s, d) => {
    val b = ntileApprox(s, d)
    val flags = b.crossJoin(broadcast(b.agg(sum(col("n")).as("total"))))
      .select(col("decile"), col("n"), col("lo"), col("hi"), col("total"),
        (abs(col("n") - col("total") / 10.0) <= col("total") * 0.002 + 2)
          .as("size_ok"))
    val spans = flags.as("a")
      .join(flags.as("b"), col("a.decile") + 1 === col("b.decile"))
      .agg(min(col("a.hi") <= col("b.lo")).as("spans_ordered"))
    flags.agg(
        max(col("total")).as("n_customers"),
        count(lit(1)).as("n_buckets"),
        min(col("size_ok")).as("sizes_within_tol"))
      .crossJoin(spans)
  }

  /** Correlated EXISTS through the SQL path: customers with at least one
    * URGENT order that still has an open lineitem. Catalyst decorrelates
    * the EXISTS into a left-semi join — asserted in the plan spec; the
    * per-row subquery never executes as written. */
  private val q30: Q = (s, d) => {
    val vo = s"orders_q30_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val vc = s"customer_q30_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Tables.orders(s, d).createOrReplaceTempView(vo)
    Tables.customer(s, d).createOrReplaceTempView(vc)
    val out = s.sql(
      s"""SELECT c.c_custkey, c.c_mktsegment
          FROM $vc c
          WHERE EXISTS (
            SELECT 1 FROM $vo o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT'
              AND o.o_orderstatus = 'O')""")
    s.catalog.dropTempView(vo)
    s.catalog.dropTempView(vc)
    out
  }

  /** LATERAL correlated subquery: for every nation, its top-2 customers
    * by account balance. A third decorrelation shape beyond q23 (scalar)
    * and q30 (EXISTS) — Catalyst rewrites the per-row LATERAL into a
    * ranked join, so the subquery never executes row-at-a-time. The
    * equivalent window form is one sort-shuffle; LATERAL is the declared
    * surface here because it's what migrating SQL actually contains. */
  private val q31: Q = (s, d) => {
    val vn = s"nation_q31_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val vc = s"customer_q31_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Tables.nation(s, d).createOrReplaceTempView(vn)
    Tables.customer(s, d).createOrReplaceTempView(vc)
    val out = s.sql(
      s"""SELECT n.n_name, t.c_custkey, t.c_acctbal
          FROM $vn n,
          LATERAL (
            SELECT c_custkey, c_acctbal FROM $vc c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2) t""")
    s.catalog.dropTempView(vn)
    s.catalog.dropTempView(vc)
    out
  }

  /** Mode (most frequent value) per group with a deterministic
    * tie-break (higher count wins, then smaller value) — the
    * categorical-summary aggregate SQL lacks a portable builtin for.
    * Count-then-rank: the raw table collapses map-side to
    * |groups × distinct values| before the window, so the sort ranks a
    * tiny frequency table, never rows. At 100 TB that pre-aggregation
    * is the whole trick — mode over raw rows would be a global
    * sort-by-count per group. */
  private val q32: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
          .orderBy(col("n").desc, col("l_quantity"))))
      .where(col("rk") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("n"))

  /** Ordered string aggregation (LISTAGG/string_agg): nations per
    * region as one sorted comma-joined string. Spark has no ordered
    * string_agg — `collect_list` order is partition-dependent — so the
    * deterministic form is collect → `array_sort` → `array_join`,
    * which is also the scale-safe shape: per-group state is bounded by
    * the group's member list, built through partial aggregation, and
    * the dimension join broadcasts. */
  private val q33: Q = (s, d) =>
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))

  /** Value-selection window family (first_value / last_value /
    * nth_value) over the full-group frame: per order priority, the
    * order date of the most expensive order, the cheapest price, and
    * the third-highest price. Selections, not accumulations — double
    * outputs are picked, never summed, so they are deterministic
    * without the decimal treatment; ties broken by orderkey. One
    * window over 5 groups; rank=1 projects all frame-wide values.
    *
    * Scale note: the full-frame window sorts each priority's WHOLE
    * group (5 one-task sorts at 100 TB). Every column here is
    * recoverable from bounded aggregates — min/max plus an O(k)
    * [[Advanced.TopKAgg]] heap for the 3rd value and the winner's id
    * (payload re-joined by id) — and [[RelationalPlanSpec]] pins that
    * bounded form row-for-row equal; the window form stays declared as
    * the window-function-family coverage contract. */
  private val q34: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w))
      .withColumn("top_order_date",
        date_format(first(col("o_orderdate")).over(full), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("min_price", last(col("o_totalprice")).over(full))
      .withColumn("third_price", nth_value(col("o_totalprice"), 3).over(full))
      .where(col("rk") === 1)
      .select(col("o_orderpriority"), col("o_totalprice").as("top_price"),
        col("top_order_date"), col("min_price"), col("third_price"))
  }

  /** Recursive CTE (Spark 4 executes WITH RECURSIVE natively as an
    * iterative union): walk every customer key up the implicit binary
    * hierarchy `k → k/2 → … → 1` and report the depth-to-root
    * histogram — the org-chart/BOM ancestor-walk shape. All-integer
    * arithmetic; DuckDB replays the identical recursion.
    *
    * 100 TB shape: each recursion step is one narrow distributed
    * projection + filter over the frontier (no joins here — the parent
    * is computed, not looked up), and depth is bounded by log₂(max
    * key), so the iteration count is ~60 even at 2⁶⁰ keys. For DEEP
    * recursions (path-length diameter), prefer the pointer-jumping
    * formulation (`dd_components`) — O(log) rounds instead of
    * O(depth). */
  private val q35: Q = (s, d) => {
    val vc = s"customer_q35_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    Tables.customer(s, d).createOrReplaceTempView(vc)
    val out = s.sql(
      s"""WITH RECURSIVE walk(key, anc, depth) AS (
            SELECT c_custkey, c_custkey, 0 FROM $vc
            UNION ALL
            SELECT key, anc DIV 2, depth + 1 FROM walk WHERE anc > 1)
          SELECT depth_to_root, count(*) AS n FROM (
            SELECT key, CAST(max(depth) AS BIGINT) AS depth_to_root
            FROM walk GROUP BY key)
          GROUP BY depth_to_root""")
    s.catalog.dropTempView(vc)
    out
  }

  /** The same ancestor walk UNROLLED into one plan (round 14, r13
    * verdict item 6 — the per-job-tax attribution, shipped as a
    * capability): when the recursion depth has a cheap bound — here
    * ⌊log₂(max key)⌋, read by a 1-row pre-aggregate — the level-at-a-
    * time recursion collapses into that many chained CONDITIONAL
    * projections (`anc>1 ? (anc DIV 2, depth+1) : unchanged`) inside a
    * single narrow job, followed by the one real shuffle (the depth
    * histogram). The native `WITH RECURSIVE` form above materializes
    * every level as its own job (Spark's UnionLoop), so ~14 levels pay
    * ~14 fixed per-job costs; measured A/B at sf0.1 (5 per-rep
    * sessions; `BASELINE.md`, "q35_recursive_depth — per-job tax
    * ATTRIBUTED"): native 2.14 s median, native with AQE OFF 5.92 s
    * (AQE is a 3× WIN here — the re-planning hypothesis is refuted),
    * unrolled **0.47 s** — 4.5× under the native form, with
    * bit-identical output under the same DuckDB recursive oracle.
    *
    * 100 TB shape: the unroll trades driver-side plan size (levels ×
    * one `CASE` each, whole-stage-codegen'd into one stage) for zero
    * intermediate materializations; valid whenever depth is bounded by
    * a compile-time-cheap statistic (log₂ key-range here, ~60 even at
    * 2⁶⁰ keys). For UNBOUNDED-depth walks keep the native recursion or
    * the pointer-jumping formulation (`dd_components`). */
  private val q35Unrolled: Q = (s, d) => {
    val base = Tables.customer(s, d)
      .select(col("c_custkey").as("key"), col("c_custkey").as("anc"),
        lit(0).as("depth"))
    val maxKey = Tables.customer(s, d)
      .agg(max(col("c_custkey"))).head().getLong(0)
    val levels =
      (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxKey))).toInt
    val walked = (1 to levels).foldLeft(base) { (df, _) =>
      df.select(col("key"),
        when(col("anc") > 1, expr("anc DIV 2")).otherwise(col("anc")).as("anc"),
        when(col("anc") > 1, col("depth") + 1).otherwise(col("depth"))
          .as("depth"))
    }
    walked.groupBy(col("depth").cast("long").as("depth_to_root"))
      .agg(count(lit(1)).as("n"))
  }

  /** RANGE window frame (value-based, vs q12's ROWS frame): trailing
    * 7-day revenue per priority. The frame is defined on the DAY
    * dimension, so gaps matter — a RANGE frame spans missing days, a
    * ROWS frame would silently span whatever rows exist.
    *
    * Scale shape: the window runs over the POST-AGG daily rollup
    * (days × priorities — calendar-bounded, independent of row
    * volume), never over raw orders; the raw scan collapses through
    * one map-side-partial groupBy first. */
  private val q36: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(expr("datediff(day, DATE'1970-01-01')"))
      .rangeBetween(-6, 0)
    daily.select(col("o_orderpriority"),
      date_format(col("day"), "yyyy-MM-dd").as("day"),
      sum(col("rev")).over(w).cast("double").as("rev_7d"))
  }

  val queries: Map[String, Q] = Map(
    "q31_lateral_topn" -> q31,
    "q21_pivot" -> q21,
    "q22_unpivot" -> q22,
    "q23_corr_subquery" -> q23,
    "q29_ntile_deciles" -> q29,
    "q29_ntile_approx" -> q29approx,
    "q30_exists_semi" -> q30,
    "q24_nation_pairs" -> q24,
    "q25_priority_months" -> q25,
    "q26_promo_share" -> q26,
    "q27_supplier_diversity" -> q27,
    "q28_disjunctive" -> q28,
    "q01_pricing_summary" -> q01,
    "q01_pricing_summary_orc" -> q01Orc,
    "q02_revenue_filter" -> q02,
    "q03_segment_revenue" -> q03,
    "q04_priority_semi" -> q04,
    "q05_nation_revenue" -> q05,
    "q06_no_orders_anti" -> q06,
    "q07_order_histogram" -> q07,
    "q08_distinct_flags" -> q08,
    "q09_brand_stats" -> q09,
    "q10_top_customers" -> q10,
    "q11_priority_top3" -> q11,
    "q12_running_total" -> q12,
    "q13_event_delta" -> q13,
    "q14_rollup_qty" -> q14,
    "q15_cube_orders" -> q15,
    "q16_union_nations" -> q16,
    "q17_intersect_cust" -> q17,
    "q18_except_cust" -> q18,
    "q19_having_parts" -> q19,
    "q20_above_avg" -> q20,
    "q32_mode" -> q32,
    "q33_string_agg" -> q33,
    "q34_order_stats" -> q34,
    "q35_recursive_depth" -> q35,
    "q35_depth_unrolled" -> q35Unrolled,
    "q36_range_frame" -> q36,
  )

  val oracle: Map[String, String] = Map(
    "q32_mode" ->
      """SELECT l_returnflag, mode_qty, n FROM (
           SELECT l_returnflag, l_quantity AS mode_qty, count(*) AS n,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY count(*) DESC, l_quantity) AS rk
           FROM lineitem GROUP BY l_returnflag, l_quantity)
         WHERE rk = 1""",
    "q33_string_agg" ->
      """SELECT r_name, count(*) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    "q34_order_stats" ->
      """SELECT o_orderpriority, top_price, top_order_date, min_price, third_price
         FROM (
           SELECT o_orderpriority,
             o_totalprice AS top_price,
             row_number() OVER w AS rk,
             strftime(first_value(o_orderdate) OVER wf, '%Y-%m-%d %H:%M:%S')
               AS top_order_date,
             last_value(o_totalprice) OVER wf AS min_price,
             nth_value(o_totalprice, 3) OVER wf AS third_price
           FROM orders
           WINDOW
             w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey),
             wf AS (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         WHERE rk = 1""",
    "q36_range_frame" ->
      """WITH daily AS (
           SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
           FROM orders GROUP BY 1, 2)
         SELECT o_orderpriority, strftime(day, '%Y-%m-%d') AS day,
           CAST(SUM(rev) OVER (PARTITION BY o_orderpriority
             ORDER BY day - DATE '1970-01-01'
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d
         FROM daily""",
    "q35_recursive_depth" ->
      """WITH RECURSIVE walk(key, anc, depth) AS (
           SELECT c_custkey, c_custkey, 0 FROM customer
           UNION ALL
           SELECT key, anc // 2, depth + 1 FROM walk WHERE anc > 1)
         SELECT depth_to_root, count(*) AS n FROM (
           SELECT key, CAST(max(depth) AS BIGINT) AS depth_to_root
           FROM walk GROUP BY key)
         GROUP BY depth_to_root""",
    // the unrolled form answers the SAME question — one oracle text,
    // two engine strategies (the point of the A/B)
    "q35_depth_unrolled" ->
      """WITH RECURSIVE walk(key, anc, depth) AS (
           SELECT c_custkey, c_custkey, 0 FROM customer
           UNION ALL
           SELECT key, anc // 2, depth + 1 FROM walk WHERE anc > 1)
         SELECT depth_to_root, count(*) AS n FROM (
           SELECT key, CAST(max(depth) AS BIGINT) AS depth_to_root
           FROM walk GROUP BY key)
         GROUP BY depth_to_root""",
    "q31_lateral_topn" ->
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
         FROM nation n,
         LATERAL (
           SELECT c_custkey, c_acctbal FROM customer c
           WHERE c.c_nationkey = n.n_nationkey
           ORDER BY c_acctbal DESC, c_custkey
           LIMIT 2) t""",
    "q21_pivot" -> {
      val cases = priorities.map(p =>
        s"""CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS "$p"""")
        .mkString(",\n         ")
      s"""SELECT o_orderstatus, $cases
         FROM orders GROUP BY o_orderstatus"""
    },
    "q22_unpivot" ->
      s"""WITH agg AS (
            SELECT l_returnflag, ${sqlSum("l_quantity")} AS qty,
              ${sqlSum("l_extendedprice")} AS price
            FROM lineitem GROUP BY l_returnflag)
          SELECT l_returnflag, 'qty' AS metric, qty AS value FROM agg
          UNION ALL
          SELECT l_returnflag, 'price' AS metric, price AS value FROM agg""",
    "q24_nation_pairs" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS y,
           ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_name < n2.n_name
         GROUP BY 1, 2, 3""",
    "q25_priority_months" ->
      """SELECT date_trunc('month', l_shipdate) AS ship_month,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "q26_promo_share" ->
      """SELECT CAST(SUM(CASE WHEN contains(p_type, 'brushed')
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) * 100.0 /
                CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey""",
    "q27_supplier_diversity" ->
      """SELECT p_brand, p_size % 5 AS size_band,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#11'
         GROUP BY 1, 2""",
    "q28_disjunctive" ->
      s"""SELECT ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
           COUNT(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
            OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
            OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""",
    "q23_corr_subquery" ->
      """SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS small_rev
         FROM lineitem l1
         WHERE l_quantity < (
           SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
           WHERE l2.l_partkey = l1.l_partkey)
         GROUP BY l_partkey""",
    "q29_ntile_deciles" ->
      """SELECT decile, COUNT(*) AS n, MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
         FROM (SELECT c_acctbal,
                 NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
               FROM customer)
         GROUP BY decile""",
    // sketch boundaries are engine-specific; the declared contract is
    // the exact context + the tolerance booleans the Spark side earns
    "q29_ntile_approx" ->
      """SELECT count(*) AS n_customers, CAST(10 AS BIGINT) AS n_buckets,
           TRUE AS sizes_within_tol, TRUE AS spans_ordered
         FROM customer""",
    "q30_exists_semi" ->
      """SELECT c.c_custkey, c.c_mktsegment
         FROM customer c
         WHERE EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey
             AND o.o_orderpriority = '1-URGENT'
             AND o.o_orderstatus = 'O')""",
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         ${sqlSum("l_quantity")} AS sum_qty,
         ${sqlSum("l_extendedprice")} AS sum_base_price,
         ${sqlSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         ${Exact.sqlSumRaw(Exact.sqlChargeProd("l_extendedprice", "l_discount", "l_tax"))} AS sum_charge,
         ${sqlAvg("l_quantity")} AS avg_qty,
         ${sqlAvg("l_extendedprice")} AS avg_price,
         ${sqlAvg("l_discount")} AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    // the ORC roundtrip must be hash-invisible: same SQL over the
    // ORIGINAL parquet lineitem
    "q01_pricing_summary_orc" ->
      s"""SELECT l_returnflag, l_linestatus,
         ${sqlSum("l_quantity")} AS sum_qty,
         ${sqlSum("l_extendedprice")} AS sum_base_price,
         ${sqlSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         ${Exact.sqlSumRaw(Exact.sqlChargeProd("l_extendedprice", "l_discount", "l_tax"))} AS sum_charge,
         ${sqlAvg("l_quantity")} AS avg_qty,
         ${sqlAvg("l_extendedprice")} AS avg_price,
         ${sqlAvg("l_discount")} AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_revenue_filter" ->
      s"""SELECT ${sqlSum("l_extendedprice * l_discount")} AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24""",
    "q03_segment_revenue" ->
      s"""SELECT c_mktsegment,
         ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
         COUNT(DISTINCT o_orderkey) AS n_orders
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q04_priority_semi" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
         GROUP BY o_orderpriority""",
    "q05_nation_revenue" ->
      s"""SELECT r_name, n_name,
         ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "q06_no_orders_anti" ->
      """SELECT c_mktsegment, COUNT(*) AS n_lonely FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment""",
    "q07_order_histogram" ->
      """SELECT n_orders, COUNT(*) AS n_customers FROM (
           SELECT c_custkey, COUNT(o_orderkey) AS n_orders
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey) GROUP BY n_orders""",
    "q08_distinct_flags" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q09_brand_stats" ->
      s"""SELECT p_brand,
         ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
         COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",
    "q10_top_customers" ->
      s"""SELECT c_custkey, c_name,
         ${sqlSum("o_totalprice")} AS total_spent, COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name
         ORDER BY total_spent DESC, c_custkey LIMIT 10""",
    "q11_priority_top3" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3""",
    "q12_running_total" ->
      """SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_total
         FROM orders WHERE o_custkey < 100""",
    "q13_event_delta" ->
      """SELECT user_id, event_id,
           value - LAG(value, 1) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS delta
         FROM events WHERE user_id < 50""",
    "q14_rollup_qty" ->
      s"""SELECT l_returnflag, l_linestatus,
         ${sqlSum("l_quantity")} AS sum_qty, COUNT(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q15_cube_orders" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         ${sqlSum("o_totalprice")} AS total
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",
    "q16_union_nations" ->
      """SELECT c_nationkey AS nk FROM customer
         UNION SELECT s_nationkey AS nk FROM supplier""",
    "q17_intersect_cust" ->
      """SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'O'
         INTERSECT
         SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'""",
    "q18_except_cust" ->
      """SELECT o_custkey AS ck FROM orders
         EXCEPT
         SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 400000""",
    "q19_having_parts" ->
      s"""SELECT l_partkey, ${sqlSum("l_quantity")} AS sum_qty, COUNT(*) AS n
         FROM lineitem GROUP BY l_partkey
         HAVING ${sqlSum("l_quantity")} > 900""",
    "q20_above_avg" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_big FROM orders
         WHERE o_totalprice > 1.5 * (SELECT ${sqlAvg("o_totalprice")} FROM orders)
         GROUP BY o_orderstatus""",
  )
}
