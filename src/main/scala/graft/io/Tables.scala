package graft.io

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Typed access to the star-schema parquet tables under a scale-factor
  * directory (see TESTDATA.md). Every accessor opens its table
  * through [[Tables.read]], which resolves the footer schema once per
  * (session, path) and hands the cached schema to the reader on every
  * later open, so reopening a table runs no Spark job. The result is still
  * a plain parquet scan: filters and projections written downstream push
  * into the parquet reader (verified via `.explain`:
  * `PushedFilters`/`ReadSchema`).
  *
  * Scale posture: at 100 TB these would be partitioned/bucketed parquet
  * directories; nothing here assumes single-file layout — the path is a
  * directory-or-file glob that Spark resolves to any number of splits.
  *
  * Data model mirrors the reference warehouse (Sakila star; see
  * /root/reference/sql/sakila-schema.sql:44-345 for the source DDL):
  * customer geo chain customer->nation->region plays address->city->country,
  * orders+lineitem play rental+payment, part.p_type plays category.name.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

  def region: DataFrame    = t("region")
  def nation: DataFrame    = t("nation")
  def customer: DataFrame  = t("customer")
  def supplier: DataFrame  = t("supplier")
  def part: DataFrame      = t("part")
  def orders: DataFrame    = t("orders")
  def lineitem: DataFrame  = t("lineitem")
  /** The events table's `ts` column has shipped under several physical
    * parquet encodings across upstream regenerations — TIMESTAMP(NANOS)
    * (arrives as long under `spark.sql.legacy.parquet.nanosAsLong`), plain
    * `timestamp[us]` with isAdjustedToUTC=false (arrives as TIMESTAMP_NTZ),
    * and UTC-adjusted micros (arrives as TimestampType). A 100 TB lake WILL
    * contain mixed encodings, so we dispatch on the OBSERVED resolved type
    * rather than assuming one era's layout; every branch normalizes to
    * session-zone TimestampType (the session runs UTC, so NTZ→TZ is a
    * value-preserving relabel).
    *
    * Nanos branch: truncate with integer division — `ts div 1000`, NOT
    * `/1000` (double division is lossy above 2^52; epoch-nanos ≈ 1.7e18).
    * Matches DuckDB's CAST(TIMESTAMP_NS AS TIMESTAMP) bit-for-bit.
    */
  def events: DataFrame = {
    val raw = t("events") // a reopen dispatches on the cached schema, without a job
    raw.schema("ts").dataType match {
      case LongType        => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _               => raw
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

/** The one parquet open path of the engine's table accessors.
  *
  * Spark infers a parquet schema by reading footers in a job of its own
  * (about 75 ms a table on a 4-core host, a third of a short report
  * query's wall time). The first open of a path pays that job once; the
  * schema is then kept, keyed by (session, path), with a fingerprint of
  * the path's leaf files (name, size, mtime) taken by one Hadoop
  * file-system listing, which runs no Spark job. Every later open lists
  * the path again and, while the fingerprint matches, reads with
  * `spark.read.schema(cached)`, which plans the same scan without a job. An in-place overwrite changes the
  * listing, so the entry is re-inferred and replaced: the map holds one
  * entry per distinct path, however often the path is rewritten.
  *
  * The cached schema is the inferred one, not `model.Schemas`: only some
  * tables are declared there, and the physical encoding of `events.ts`
  * varies between files (SchemaAuditSpec pins the resolved contract).
  */
object Tables {
  private final case class Resolved(schema: StructType, files: Seq[(String, Long, Long)])
  private val resolved = TrieMap.empty[(SparkSession, String), Resolved]

  def read(spark: SparkSession, path: String): DataFrame = {
    val files = leafFiles(spark, path)
    val key = (spark, path)
    resolved.get(key) match {
      case Some(r) if r.files == files => spark.read.schema(r.schema).parquet(path)
      case _ =>
        // First open, or the path was rewritten: infer as a plain read
        // does (a path that lists nothing fails here, with Spark's error).
        val df = spark.read.parquet(path)
        resolved.put(key, Resolved(df.schema, files))
        df
    }
  }

  /** (name, size, mtime) of every file under `path` (a file, a directory
    * or a glob), sorted so two listings compare equal when unchanged. */
  private def leafFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk) else Seq(st)
    Option(fs.globStatus(p)).toSeq.flatten.flatMap(walk)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
  }
}
