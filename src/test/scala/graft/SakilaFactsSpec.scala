package graft

import graft.sakila.{Sakila, SakilaTables}
import org.apache.spark.sql.functions._

/** The published facts of the revenue view and q1–q11 over the committed
  * Sakila fixtures: row counts (FIXTURES.md §3), the q8 cohorts and the
  * late-fee total (SURVEY.md §5.2). Runs without the golden CSVs that
  * SakilaGoldenSpec compares against, so fidelity is still checked when
  * they are not mounted.
  */
class SakilaFactsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val t = SakilaTables(spark, getClass.getResource("/sakila").getPath)
  private lazy val dw = Sakila.revenueView(t).cache()
  private lazy val q = Sakila.queries(dw)

  test("dw and q1–q11 have the published row counts") {
    val expected = Map("q1" -> 599, "q2" -> 599, "q3" -> 599, "q4" -> 2,
      "q5" -> 599, "q6" -> 16, "q7" -> 599, "q8" -> 3, "q9" -> 108,
      "q10" -> 597, "q11" -> 108)
    assert(dw.count() === 599)
    assert(q.keySet === expected.keySet)
    expected.foreach { case (name, rows) =>
      assert(q(name).count() === rows, s"$name row count")
    }
  }

  test("q8 cohorts are 520 / 78 / 1 new customers") {
    val cohorts = q("q8").select("Customer_Cohort", "New_Customers")
      .as[(String, Long)].collect().toSeq
    assert(cohorts === Seq("2005-05" -> 520L, "2005-06" -> 78L, "2005-07" -> 1L))
  }

  test("late fees total 10096.00") {
    val total = dw.agg(sum("Total_Late_Fees")).first().getDecimal(0)
    assert(total.toString === "10096.00")
  }
}
