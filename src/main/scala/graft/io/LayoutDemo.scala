package graft.io

import graft.model.Validate
import org.apache.spark.sql.functions._

/** Executable example: the data-engineering surface — constraint
  * validation, bucketed co-located joins, partition pruning.
  *
  *   sbt "runMain graft.io.LayoutDemo /root/testdata/sf0.001"
  */
object LayoutDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session()
    val t = Tables(spark, dir)

    val violations = Validate.validateStar(t)
    println(s"[layout] constraint violations: ${if (violations.isEmpty) "none" else violations.mkString("; ")}")

    // The session's warehouse outlives it, and saveAsTable refuses a
    // managed-table location a previous run left behind.
    val warehouse = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("orders_b", "lineitem_b").foreach(tbl =>
      new scala.reflect.io.Directory(new java.io.File(warehouse, tbl)).deleteRecursively())
    Layout.writeBucketed(t.orders, "orders_b", "o_orderkey", numBuckets = 8)
    Layout.writeBucketed(t.lineitem, "lineitem_b", "l_orderkey", numBuckets = 8)
    val joined = spark.table("lineitem_b")
      .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
    val shuffles = joined.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    println(s"[layout] bucketed join rows=${joined.count()} shuffle-exchanges=$shuffles")

    val out = java.nio.file.Files.createTempDirectory("graft-demo-part").toString
    Layout.writePartitioned(t.events, out, "event_type")
    val pruned = spark.read.parquet(out).filter(col("event_type") === "click")
    // Match a NON-EMPTY filter list: the scan always renders a
    // "PartitionFilters:" key (as "PartitionFilters: []" when nothing
    // prunes), so a bare contains("PartitionFilters") is vacuously true
    // and could never catch a pruning regression.
    val usesPruning = pruned.queryExecution.executedPlan.toString
      .linesIterator.exists(l =>
        l.contains("PartitionFilters: [") && !l.contains("PartitionFilters: []"))
    println(s"[layout] partitioned read: clicks=${pruned.count()} partition-pruned=$usesPruning")
    spark.stop()
  }
}
