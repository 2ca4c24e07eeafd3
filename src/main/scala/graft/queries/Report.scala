package graft.queries

import graft.io.Tables
import graft.warehouse.{RevenueSummary, View}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The 8 report-variant queries (/root/reference/report/DataManagement_Shan.pdf
  * pp.8-15) re-targeted at the star schema: AVG-by-geo, monthly trend,
  * DAYNAME peak days, per-geo genre ranking, revenue-per-day, late-fee
  * impact. These add the operator families the published 11 don't cover:
  * AVG (A4), DATE_FORMAT cohorts on the fact grain (F8), DAYNAME (F9),
  * window ranking (W2), multi-key sorts (O2).
  */
object Report {

  private val V = RevenueSummary.oracleCtes

  // r02 and r07 share the same upstream: the lineitem⋈orders monthly
  // aggregate. Compute it once per (session, dir) and cache — the same
  // derived-view reuse View.dw applies to the customer grain (and the
  // same move a 100 TB run makes by materializing the monthly rollup).
  private val monthlyCache = graft.ops.Ckpt.Memo[String]("Report.monthlyCache")

  private def monthlyRevenue(s: org.apache.spark.sql.SparkSession, dir: String) =
    monthlyCache(s, dir) {
      val t = Tables(s, dir)
      t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
        .agg(
          countDistinct(col("o_orderkey")).as("n_orders"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"))
        .cache()
    }

  /** Release this module's cached frames for a session (same teardown
    * contract as Dedup/Similarity.clearCaches; inputs are assumed
    * immutable for the life of a session, like every cache here).
    */
  def clearCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.ops.Ckpt.clearModule(spark, "Report")

  val defs: Seq[QueryDef] = Seq(
    // Report Query 2: ROUND(AVG(Avg_Spending_Per_Rental),2) by country.
    // Expressed as the weighted form sum(revenue)/sum(orders) so the
    // aggregate stays exact-decimal / deterministic cross-engine (an AVG of
    // per-customer ratios would sum raw doubles in nondeterministic order).
    QueryDef(
      "r01_region_avg_order_value",
      (s, dir) => View.dw(s, dir)
        .groupBy("region")
        .agg(
          count(lit(1)).as("total_customers"),
          (sum(money(col("total_revenue"))).cast("double") / sum(col("total_orders")))
            .as("avg_order_value"))
        .orderBy(col("avg_order_value").desc, col("region").asc),
      Some(s"""$V SELECT region, COUNT(*) AS total_customers,
              |       CAST(SUM(CAST(total_revenue AS DECIMAL(18,4))) AS DOUBLE) / SUM(total_orders) AS avg_order_value
              |FROM dw GROUP BY 1 ORDER BY avg_order_value DESC, region ASC""".stripMargin)),

    // Report Query 3: monthly revenue trend (DATE_FORMAT '%Y-%m').
    QueryDef(
      "r02_monthly_revenue_trend",
      (s, dir) => monthlyRevenue(s, dir).orderBy("order_month"),
      Some(s"""SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
              |       COUNT(DISTINCT o.o_orderkey) AS n_orders,
              |       ${sqlMoneySum("l.l_extendedprice * (1 - l.l_discount)")} AS total_revenue
              |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Report Query 8: peak order days (DAYNAME).
    QueryDef(
      "r03_peak_order_days",
      (s, dir) => Tables(s, dir).orders
        .groupBy(date_format(col("o_orderdate"), "EEEE").as("order_day"))
        .agg(
          count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("total_value"))
        .orderBy(col("n_orders").desc, col("order_day").asc),
      Some(s"""SELECT dayname(o_orderdate) AS order_day, COUNT(*) AS n_orders,
              |       ${sqlMoneySum("o_totalprice")} AS total_value
              |FROM orders GROUP BY 1 ORDER BY n_orders DESC, order_day ASC""".stripMargin)),

    // Report Query 5 ("Top Movie Genre by Country") done faithfully to its
    // intent: rank categories within each nation by revenue, keep the top 3.
    QueryDef(
      "r04_top_categories_by_nation",
      (s, dir) => {
        val t = Tables(s, dir)
        val catRev = t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t.part.select("p_partkey", "p_type")), col("l_partkey") === col("p_partkey"))
          .groupBy(col("n_name").as("nation"), col("p_type").as("category"))
          .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        val w = Window.partitionBy(col("nation")).orderBy(col("revenue").desc, col("category").asc)
        catRev.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .orderBy("nation", "rnk")
      },
      Some(s"""WITH cat_rev AS (
              |  SELECT n.n_name AS nation, p.p_type AS category,
              |         ${sqlMoneySum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
              |  FROM lineitem l
              |  JOIN orders o ON l.l_orderkey = o.o_orderkey
              |  JOIN customer c ON o.o_custkey = c.c_custkey
              |  JOIN nation n ON c.c_nationkey = n.n_nationkey
              |  JOIN part p ON l.l_partkey = p.p_partkey
              |  GROUP BY 1, 2)
              |SELECT nation, category, revenue, rnk FROM (
              |  SELECT nation, category, revenue,
              |         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY revenue DESC, category ASC) AS rnk
              |  FROM cat_rev) ranked
              |WHERE rnk <= 3 ORDER BY nation, rnk""".stripMargin)),

    // Report Query 7: customer lifetime value per active day
    // (Total_Revenue / DATEDIFF(last, first) per day).
    QueryDef(
      "r05_revenue_per_active_day",
      (s, dir) => View.dw(s, dir)
        .select(
          col("customer_name"),
          (col("total_revenue") /
            (datediff(to_date(col("last_order_date")), to_date(col("first_order_date"))) + lit(1)))
            .as("revenue_per_day"))
        .orderBy(col("revenue_per_day").desc, col("customer_name").asc),
      Some(s"""$V SELECT customer_name,
              |       total_revenue / (date_diff('day', CAST(first_order_date AS DATE), CAST(last_order_date AS DATE)) + 1) AS revenue_per_day
              |FROM dw ORDER BY revenue_per_day DESC, customer_name ASC""".stripMargin)),

    // Running analytics over the monthly trend: cumulative revenue +
    // month-over-month delta (window frame + lag — the W-family surface
    // beyond top-1 ranking). Window sums go through the exact-decimal
    // round-trip so the running values are order-exact on both engines.
    QueryDef(
      "r07_running_revenue",
      (s, dir) => {
        val monthly = monthlyRevenue(s, dir).select("order_month", "total_revenue")
        val w = org.apache.spark.sql.expressions.Window.orderBy("order_month")
        monthly
          .withColumn("cumulative_revenue",
            sum(money(col("total_revenue")))
              .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
              .cast("double"))
          .withColumn("mom_delta",
            col("total_revenue") - lag(col("total_revenue"), 1).over(w))
          .orderBy("order_month")
      },
      Some(s"""WITH monthly AS (
              |  SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
              |         ${sqlMoneySum("l.l_extendedprice * (1 - l.l_discount)")} AS total_revenue
              |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              |  GROUP BY 1)
              |SELECT order_month, total_revenue,
              |  CAST(SUM(CAST(total_revenue AS DECIMAL(18,4)))
              |       OVER (ORDER BY order_month ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cumulative_revenue,
              |  total_revenue - LAG(total_revenue) OVER (ORDER BY order_month) AS mom_delta
              |FROM monthly ORDER BY order_month""".stripMargin)),

    // Hierarchical ROLLUP over the geo dimensions (region -> nation ->
    // grand total) — the subtotal surface Tableau derives interactively.
    // Expressed through the spark.sql entry point over the registered
    // customer_revenue_summary temp view (the DataFrame rollup over the
    // view's join lineage trips the ambiguous-self-join analyzer check;
    // the SQL path resolves cleanly and exercises the SQL surface).
    QueryDef(
      "r08_geo_rollup",
      (s, dir) => {
        View.dw(s, dir) // ensures the temp view is registered + cached
        s.sql("""SELECT region, nation, COUNT(*) AS total_customers,
                |  CAST(SUM(CAST(total_revenue AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
                |FROM customer_revenue_summary
                |GROUP BY ROLLUP(region, nation)
                |ORDER BY region ASC NULLS FIRST, nation ASC NULLS FIRST""".stripMargin)
      },
      Some(s"""$V SELECT region, nation, COUNT(*) AS total_customers,
              |       CAST(SUM(CAST(total_revenue AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
              |FROM dw GROUP BY ROLLUP(region, nation)
              |ORDER BY region ASC NULLS FIRST, nation ASC NULLS FIRST""".stripMargin)),

    // PIVOT: revenue by region across order years as columns (the
    // crosstab shape every BI tool derives). Pinned year list keeps the
    // output schema static; the oracle is the portable conditional-
    // aggregation form of the same pivot.
    QueryDef(
      "r09_region_year_pivot",
      (s, dir) => {
        val t = Tables(s, dir)
        val years = (1995 to 2001).toList
        t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name").as("region"), year(col("o_orderdate")).as("yr"),
            money(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
          .groupBy("region")
          .pivot("yr", years)
          .agg(sum(col("rev")).cast("double"))
          .toDF("region" :: years.map(y => s"rev_$y"): _*)
          // Spark pivot yields NULL for an empty cell; the oracle's
          // CASE-sum yields 0 — normalize so sparse cells can't diverge.
          .na.fill(0.0, years.map(y => s"rev_$y"))
          .orderBy("region")
      },
      Some {
        val cols = (1995 to 2001).map { y =>
          s"""CAST(SUM(CASE WHEN year(o.o_orderdate) = $y
             |    THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
             |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS rev_$y""".stripMargin
        }.mkString(",\n  ")
        s"""SELECT r.r_name AS region,
           |  $cols
           |FROM lineitem l
           |JOIN orders o ON l.l_orderkey = o.o_orderkey
           |JOIN customer c ON o.o_custkey = c.c_custkey
           |JOIN nation n ON c.c_nationkey = n.n_nationkey
           |JOIN region r ON n.n_regionkey = r.r_regionkey
           |GROUP BY 1 ORDER BY region""".stripMargin
      }),

    // Tableau worksheet "Global Market Performance & Late Fee Impact":
    // per-nation revenue vs late-fee burden.
    QueryDef(
      "r06_nation_late_fee_impact",
      (s, dir) => View.dw(s, dir)
        .groupBy("nation")
        .agg(
          moneySum(col("total_revenue")).as("total_revenue"),
          moneySum(col("total_late_fees")).as("total_late_fees"))
        .withColumn("late_fee_pct", col("total_late_fees") / col("total_revenue"))
        .orderBy(col("late_fee_pct").desc, col("nation").asc),
      Some(s"""$V SELECT nation,
              |       CAST(SUM(CAST(total_revenue AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue,
              |       CAST(SUM(CAST(total_late_fees AS DECIMAL(18,4))) AS DOUBLE) AS total_late_fees,
              |       CAST(SUM(CAST(total_late_fees AS DECIMAL(18,4))) AS DOUBLE) / CAST(SUM(CAST(total_revenue AS DECIMAL(18,4))) AS DOUBLE) AS late_fee_pct
              |FROM dw GROUP BY 1 ORDER BY late_fee_pct DESC, nation ASC""".stripMargin))
  )
}
