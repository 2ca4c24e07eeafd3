package graft

import graft.queries.{Registry, lateFeeExpr}
import graft.warehouse.View
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** View semantics + the adversarial micro-fixtures from FIXTURES.md §2:
  * fan-out grains, mode tie-break, 3-valued late-fee logic, segmentation
  * boundaries, conservation across groupings.
  */
class WarehouseSpec extends SparkSuite {
  import spark.implicits._

  private lazy val dw = View.dw(spark, Sf).cache()

  test("view covers every customer with orders, exactly once") {
    val nCustomersWithOrders = spark.read.parquet(s"$Sf/orders.parquet")
      .select("o_custkey").distinct().count()
    assert(dw.count() === nCustomersWithOrders)
    assert(dw.select("customer_id").distinct().count() === dw.count())
  }

  test("revenue conservation: per-nation regrouping preserves the total") {
    val total = dw.agg(sum(col("total_revenue").cast("decimal(18,4)"))).first().getDecimal(0)
    val byNation = Registry.queryMap("q09_revenue_by_nation")(spark, Sf)
      .agg(sum(col("total_revenue").cast("decimal(18,4)"))).first().getDecimal(0)
    val byCohort = Registry.queryMap("q08_acquisition_cohorts")(spark, Sf)
      .agg(sum(col("total_revenue").cast("decimal(18,4)"))).first().getDecimal(0)
    assert(total.compareTo(byNation) === 0)
    assert(total.compareTo(byCohort) === 0)
  }

  test("segmentation partitions the customer set") {
    val seg = Registry.queryMap("q04_customer_segments")(spark, Sf)
    assert(seg.agg(sum("customer_count")).first().getLong(0) === dw.count())
  }

  test("avg_order_value consistent with revenue/orders on every row") {
    val bad = dw.filter(
      abs(col("avg_order_value") - col("total_revenue") / col("total_orders")) > 1e-9)
    assert(bad.count() === 0)
  }

  test("late fee: NULL dates fall to ELSE 0, boundary is strict >") {
    val schema = StructType(Seq(
      StructField("l_shipdate", TimestampType), StructField("o_orderdate", TimestampType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      Row(ts("2000-02-01 00:00:00"), ts("2000-01-01 00:00:00")), // 31 days -> 0.5
      Row(ts("2000-01-31 00:00:00"), ts("2000-01-01 00:00:00")), // 30 days -> 0 (strict >)
      Row(null, ts("2000-01-01 00:00:00")),                      // NULL -> 0
      Row(ts("2000-03-01 00:00:00"), null))                      // NULL -> 0
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val fees = df.select(lateFeeExpr(30).cast("double").as("fee")).as[Double].collect()
    assert(fees.toSeq === Seq(0.5, 0.0, 0.0, 0.0))
  }

  test("top category: deterministic lexicographic tie-break") {
    // Customer 1 rents category B twice and A twice -> tie -> "A" wins.
    val counts = Seq((1L, "B"), (1L, "A"), (1L, "B"), (1L, "A"), (2L, "B"), (2L, "B"), (2L, "A"))
      .toDF("custkey", "p_type")
      .groupBy("custkey", "p_type").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("custkey")).orderBy(col("cnt").desc, col("p_type").asc)
    val top = counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("custkey", "p_type").as[(Long, String)].collect().toMap
    assert(top(1L) === "A")
    assert(top(2L) === "B")
  }

  test("fan-out safety: order with many lineitems counted once in total_orders") {
    // The view aggregates order grain separately from lineitem grain, so a
    // 1-order/3-lineitem customer must show total_orders=1, total_items=3.
    val one = dw.filter(col("total_items") > col("total_orders"))
    assert(one.count() > 0) // fan-out exists in the data and didn't inflate orders
  }

  test("temp view tracks the requested dir even after another dir was cached") {
    View.dw(spark, Sf)                         // sf0.001 -> 150 customers
    View.dw(spark, "/root/testdata/sf0.01")    // re-registers for sf0.01
    View.dw(spark, Sf)                         // cache hit MUST still re-register
    assert(spark.table("customer_revenue_summary").count() === dw.count())
  }

  test("every registered query returns a stable schema and rows >= 0") {
    // `fn` bypasses Registry.queryMap's regime choice: this checks every
    // query as planned on the caller's session (AQE on). RegimeSpec checks
    // the small regime.
    Registry.all.foreach { q =>
      val df = q.fn(spark, Sf)
      assert(df.columns.nonEmpty, s"${q.name} has no columns")
      assert(df.count() >= 0, s"${q.name} failed to execute")
    }
  }

  test("driver contract invariants: unique names, full oracle coverage, live entry") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size === names.size, "duplicate query names")
    // Every registered query is oracle-gated — a missing oracle would
    // silently downgrade the driver's check to rows-only.
    val noOracle = Registry.all.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"queries without oracle: $noOracle")
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.entry(spark).count() > 0, "flagship entry must return rows")
  }
}
