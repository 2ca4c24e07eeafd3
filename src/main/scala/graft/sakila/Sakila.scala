package graft.sakila

import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's actual query surface on the actual Sakila schema —
  * the drop-in path for a user of the reference
  * (/root/reference/queries_shan.sql): the `customer_revenue_summary`
  * view (:7-42) and the 11 published queries (:46-144), re-expressed
  * Spark-first.
  *
  * Semantics notes (SURVEY.md §2.9):
  *   - The reference computes one 8-way fan-out join and counts join rows
  *     (Total_Rentals = COUNT(r.rental_id), :11). We reproduce that shape
  *     exactly — on Sakila data rentals:payments are 1:1 and films have
  *     one category, so join-row counts equal entity counts, and the
  *     golden outputs embed that.
  *   - The correlated subqueries (:15-23 mode, :28-29 min/max) are
  *     decorrelated into grouped joins — Catalyst cannot decorrelate the
  *     ORDER BY ... LIMIT 1 form, so the rewrite happens at plan
  *     construction. The mode tie-break is pinned to category-name ASC;
  *     MySQL's is nondeterministic (golden embeds arbitrary choices, 233
  *     of 599 customers are tied — the golden test is tie-tolerant).
  *   - Money stays DecimalType end to end; ROUND is HALF_UP in both
  *     engines for these positive values.
  */
final case class SakilaTables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")
  def customer: DataFrame = t("customer")
  def address: DataFrame = t("address")
  def city: DataFrame = t("city")
  def country: DataFrame = t("country")
  def rental: DataFrame = t("rental")
  def inventory: DataFrame = t("inventory")
  def film: DataFrame = t("film")
  def payment: DataFrame = t("payment")
  def filmCategory: DataFrame = t("film_category")
  def category: DataFrame = t("category")
  def actor: DataFrame = t("actor")
  def filmActor: DataFrame = t("film_actor")
  def staff: DataFrame = t("staff")
  def store: DataFrame = t("store")
}

object Sakila {

  /** customer_revenue_summary (queries_shan.sql:7-42). */
  def revenueView(t: SakilaTables): DataFrame = {
    val halfDollar = lit(new java.math.BigDecimal("0.50"))
    val zero = lit(new java.math.BigDecimal("0.00"))

    // The reference's FROM clause: 7 inner joins + 2 left joins, at
    // rental × payment × category grain. Dimensions are broadcast; the
    // rental->payment fact join shuffles on rental_id.
    val joined = t.customer.select("customer_id", "first_name", "last_name", "address_id")
      .join(broadcast(t.address.select("address_id", "city_id")), "address_id")
      .join(broadcast(t.city.select("city_id", "city", "country_id")), "city_id")
      .join(broadcast(t.country.select("country_id", "country")), "country_id")
      .join(t.rental.select("rental_id", "rental_date", "return_date", "inventory_id", "customer_id"),
        "customer_id")
      .join(broadcast(t.inventory.select("inventory_id", "film_id")), "inventory_id")
      .join(broadcast(t.film.select("film_id", "rental_duration")), "film_id")
      .join(t.payment.select("payment_id", "rental_id", "amount"), Seq("rental_id"), "left")
      .join(broadcast(t.filmCategory.select("film_id", "category_id")), Seq("film_id"), "left")

    val lateDays = datediff(to_date(col("return_date")), to_date(col("rental_date")))
    val main = joined
      .groupBy(col("customer_id"),
        concat_ws(" ", col("first_name"), col("last_name")).as("Customer_Name"),
        col("city"), col("country"))
      .agg(
        count(col("rental_id")).as("Total_Rentals"),
        round(sum(col("amount")), 2).as("Total_Revenue"),
        round(sum(col("amount")) / count(col("rental_id")), 2).as("Avg_Spending_Per_Rental"),
        countDistinct(col("category_id")).as("Total_Categories_Rented"),
        round(coalesce(sum(
          when(lateDays > col("rental_duration"),
            (lateDays - col("rental_duration")) * halfDollar).otherwise(zero)), zero), 2)
          .as("Total_Late_Fees"),
        count(col("payment_id")).as("Total_Payments"))

    // Correlated MIN/MAX(rental_date) (:28-29): one grouped pass over
    // rental, joined back at customer grain.
    val dates = t.rental.groupBy("customer_id").agg(
      min("rental_date").as("First_Rental_Date"),
      max("rental_date").as("Last_Rental_Date"))

    // Correlated mode subquery (:15-23): rental->inventory->film_category
    // ->category counts per (customer, category name), window top-1.
    val counts = t.rental.select("customer_id", "inventory_id")
      .join(broadcast(t.inventory.select("inventory_id", "film_id")), "inventory_id")
      .join(broadcast(t.filmCategory.select("film_id", "category_id")), "film_id")
      .join(broadcast(t.category.select("category_id", "name")), "category_id")
      .groupBy("customer_id", "name").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("customer_id")).orderBy(col("cnt").desc, col("name").asc)
    val mode = counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("customer_id"), col("name").as("Most_Frequent_Category"))

    main
      .join(dates, "customer_id")
      .join(mode, Seq("customer_id"), "left")
      .select(
        col("customer_id").as("Customer_ID"), col("Customer_Name"),
        col("Total_Rentals"), col("Total_Revenue"), col("Avg_Spending_Per_Rental"),
        col("Total_Categories_Rented"), col("Most_Frequent_Category"),
        col("Total_Late_Fees"), col("First_Rental_Date"), col("Last_Rental_Date"),
        col("Total_Payments"),
        col("city").as("Customer_City"), col("country").as("Customer_Country"))
  }

  /** Pinned "today" for Query 5 (CURDATE() in the reference,
    * queries_shan.sql:86); data ends 2006-02-14, golden q5 has all 599
    * customers, so any date >= 2006-08-15 reproduces it. */
  val Today = "2006-08-15"

  /** The 11 published queries (queries_shan.sql:46-144), keyed q1..q11. */
  def queries(dw: DataFrame): Map[String, DataFrame] = Map(
    // DELIBERATE divergence from the published SQL: queries_shan.sql:46-53
    // titles q1 "Top 10" and carries LIMIT 10, but the reference's own
    // exported artifact (data/q1.csv, the golden this layer is
    // value-pinned against) contains ALL 599 customers — the author
    // exported the un-limited ranking. We pin to the ARTIFACT; a caller
    // wanting the published top-10 takes .limit(10) of this ordering.
    "q1" -> dw.select("Customer_Name", "Total_Revenue")
      .orderBy(col("Total_Revenue").desc),
    "q2" -> dw.select("Customer_Name", "Total_Rentals")
      .orderBy(col("Total_Rentals").desc),
    "q3" -> dw.select("Customer_Name", "Total_Late_Fees")
      .orderBy(col("Total_Late_Fees").desc),
    "q4" -> dw.withColumn("Rental_Frequency_Group",
        when(col("Total_Rentals") >= 20, "Frequent Renters")
          .when(col("Total_Rentals").between(10, 19), "Regular Renters")
          .otherwise("Occasional Renters"))
      .groupBy("Rental_Frequency_Group")
      .agg(count(col("Customer_ID")).as("Customer_Count"),
        round(sum(col("Total_Revenue")), 2).as("Total_Revenue"))
      .orderBy(col("Total_Revenue").desc),
    "q5" -> dw.select("Customer_Name", "Last_Rental_Date")
      .filter(col("Last_Rental_Date") < add_months(lit(Today).cast("date"), -6))
      .orderBy(col("Last_Rental_Date").asc),
    "q6" -> dw.groupBy("Most_Frequent_Category")
      .agg(count(col("Customer_ID")).as("Customers_Who_Rent_This_Genre"),
        round(sum(col("Total_Revenue")), 2).as("Total_Revenue"))
      .orderBy(col("Total_Revenue").desc),
    "q7" -> dw.groupBy("Customer_Name", "First_Rental_Date", "Last_Rental_Date")
      .agg(round(sum(col("Total_Revenue")), 2).as("Lifetime_Spending"))
      .orderBy(col("Lifetime_Spending").desc),
    "q8" -> dw.groupBy(date_format(col("First_Rental_Date"), "yyyy-MM").as("Customer_Cohort"))
      .agg(count(col("Customer_ID")).as("New_Customers"),
        round(sum(col("Total_Revenue")), 2).as("Total_Revenue"))
      .orderBy("Customer_Cohort"),
    "q9" -> dw.groupBy(col("Customer_Country").as("Country"))
      .agg(count(col("Customer_ID")).as("Total_Customers"),
        round(sum(col("Total_Revenue")), 2).as("Total_Revenue"))
      .orderBy(col("Total_Revenue").desc),
    "q10" -> dw.groupBy(col("Customer_City").as("City"), col("Customer_Country").as("Country"))
      .agg(count(col("Customer_ID")).as("Total_Customers"),
        round(sum(col("Total_Revenue")), 2).as("Total_Revenue"))
      .orderBy(col("Total_Revenue").desc),
    "q11" -> dw.groupBy(col("Customer_Country").as("Country"))
      .agg(count(col("Customer_ID")).as("Total_Customers"),
        round(sum(col("Total_Revenue")), 2).as("Total_Revenue"),
        round(sum(col("Total_Revenue")) / count(col("Customer_ID")), 2)
          .as("Avg_Revenue_Per_Customer"))
      .orderBy(col("Avg_Revenue_Per_Customer").desc))
}
