package graft

import graft.io.Tables
import org.apache.spark.sql.functions.lit

/** The table open path: each path's schema is inferred once per session,
  * and an in-place rewrite is picked up by the next open. */
class TablesSpec extends SparkSuite {

  test("the first open of a table infers its schema in one job; a reopen runs none") {
    val dir = copyOfTables(Sf)
    assert(jobsOf(Tables(spark, dir).orders) === 1)
    assert(jobsOf(Tables(spark, dir).orders) === 0)
    assert(jobsOf(Tables(spark, dir).events) === 1)
    assert(jobsOf(Tables(spark, dir).events) === 0)
  }

  test("an in-place overwrite with an added column is seen by the next open") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-rewrite").toString
    val path = s"$dir/orders.parquet"
    spark.range(3).toDF("o_orderkey").write.parquet(path)
    assert(Tables(spark, dir).orders.columns.toSeq === Seq("o_orderkey"))
    spark.range(5).toDF("o_orderkey").withColumn("o_extra", lit(1))
      .write.mode("overwrite").parquet(path)
    val reopened = Tables(spark, dir).orders
    assert(reopened.columns.toSeq === Seq("o_orderkey", "o_extra"))
    assert(reopened.count() === 5)
  }
}
