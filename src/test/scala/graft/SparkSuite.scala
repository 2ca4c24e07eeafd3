package graft

import graft.obs.JobStats
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, UTC, small shuffle width). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val Sf = "/root/testdata/sf0.001"

  /** Number of Spark jobs started while `body` runs. */
  def jobsOf(body: => Any): Int = {
    val stats = new JobStats(spark.sparkContext)
    try { stats.measure("body")(body); stats.counts("body").jobs }
    finally stats.close()
  }

  /** Ids of the RDDs `body` leaves persisted (set difference, so an older
    * RDD the ContextCleaner drops meanwhile does not count). */
  def persistedBy(body: => Any): collection.Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    sc.getPersistentRDDs.keySet -- before
  }

  /** Runs `body` with an optimizer rule that throws `boom` on the driver
    * for the first plan matching `when`: a failure injected part-way
    * through a call, after whatever the call materialized before it. */
  def failingPlans[T](boom: Throwable)(when: LogicalPlan => Boolean)(body: => T): T = {
    object FailMatching extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = if (when(plan)) throw boom else plan
    }
    spark.experimental.extraOptimizations = Seq(FailMatching)
    try body finally spark.experimental.extraOptimizations = Nil
  }

  /** Runs `body` with the given SQL confs set, then restores them. */
  def withConf[T](confs: (String, String)*)(body: => T): T = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** A fresh copy of the parquet tables under `dir`: a path no earlier
    * test opened, so per-path caches (Tables' schemas, View.dw) start
    * empty for it. */
  def copyOfTables(dir: String): String = {
    val to = java.nio.file.Files.createTempDirectory("graft-tables-copy")
    val from = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dest)
      else java.nio.file.Files.copy(p, dest)
    } finally walk.close()
    to.toString
  }
}
