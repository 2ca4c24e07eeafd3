package graft.sakila

import org.apache.spark.sql.functions._

/** Executable example: the reference user's workflow on this engine —
  * build customer_revenue_summary over Sakila-shaped parquet and run the
  * published queries.
  *
  *   sbt "runMain graft.sakila.SakilaDemo src/test/resources/sakila"
  */
object SakilaDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("src/test/resources/sakila")
    val spark = graft.Session()

    val dw = Sakila.revenueView(SakilaTables(spark, dir)).cache()
    println(s"[sakila] customer_revenue_summary: ${dw.count()} customers")
    val totals = dw.agg(
      sum("Total_Rentals").as("rentals"),
      sum("Total_Revenue").as("revenue"),
      sum("Total_Late_Fees").as("late_fees")).first()
    println(s"[sakila] totals: rentals=${totals.get(0)} revenue=${totals.get(1)} late_fees=${totals.get(2)}")
    val q = Sakila.queries(dw)
    println("[sakila] q1 Top revenue customers:")
    q("q1").show(3, truncate = false)
    println("[sakila] q9 Revenue by country:")
    q("q9").show(3, truncate = false)
    val rq = SakilaReport.queries(SakilaTables(spark, dir), dw)
    println("[sakila] rq6 Peak rental days:")
    rq("rq6_peak_rental_days").show(3, truncate = false)
    spark.stop()
  }
}
