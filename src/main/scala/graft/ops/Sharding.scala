package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rendezvous (highest-random-weight) sharding — Thaler & Ravishankar
  * 1998, the stateless consistent-assignment scheme: a key's shard is
  * argmax over shards of h(key, shard). The property that matters for a
  * 100 TB layout: growing the fleet from m to n shards moves ONLY the
  * keys whose new shards win their rendezvous — an expected (n−m)/n of
  * them — while modulo sharding reshuffles nearly everything. Stateless
  * (no ring metadata to persist or replicate) and deterministic from one
  * md5, so a serial oracle replays every assignment bit-for-bit.
  *
  * Spark shape: one explode of n weights per key (the x17 IVF-assign
  * shape), one windowed argmax partitioned by key — no driver state, no
  * shuffle beyond the per-key window. Ties break to the lower shard id,
  * making the argmax total.
  */
object Sharding {

  private def weight(key: Column, shard: Column): Column =
    conv(substring(md5(concat(key.cast("string"), lit("|"),
      shard.cast("string")).cast("binary")), 1, 8), 16, 10).cast("long")

  /** Per-key HRW assignment over `shards` shards: (key, shard). */
  def assign(df: DataFrame, keyCol: String, shards: Int): DataFrame = {
    require(shards >= 1, s"need shards >= 1, got $shards")
    val w = Window.partitionBy(col("key"))
      .orderBy(col("hw").desc, col("shard").asc)
    // One row per DISTINCT key before the explode: the output is one
    // (key, shard) row per distinct key regardless, and a fact table
    // where one key repeats 1e8 times would otherwise funnel
    // repeats x shards rows through that key's single window partition
    // — the exact hot-key straggler the Skew module exists to avoid.
    df.select(col(keyCol).as("key")).distinct()
      .select(col("key"), explode(sequence(lit(0), lit(shards - 1))).as("shard"))
      .select(col("key"), col("shard"), weight(col("key"), col("shard")).as("hw"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("key"), col("shard"))
  }

  /** Resize-movement audit m → n shards: how many keys move under HRW
    * versus modulo sharding. One summary row with exact counts and the
    * two movement fractions (single double divisions). */
  def resizeMovement(df: DataFrame, keyCol: String, oldShards: Int,
      newShards: Int): DataFrame = {
    require(oldShards >= 1 && newShards > oldShards,
      s"need 1 <= oldShards < newShards, got $oldShards -> $newShards")
    // The modulo baseline is only defined for integral keys. A string
    // key would implicit-cast to NULL under %, NULL =!= NULL is NULL,
    // and the audit would silently report frac_moved_mod = 0 — claiming
    // modulo sharding moves nothing, the opposite of the point this
    // audit exists to demonstrate. (assign() itself hashes any type.)
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(df.schema(keyCol).dataType),
      s"resizeMovement's modulo baseline needs an integral key column, " +
        s"got ${df.schema(keyCol).dataType.simpleString} for '$keyCol'")
    val before = assign(df, keyCol, oldShards).withColumnRenamed("shard", "old_shard")
    val after = assign(df, keyCol, newShards).withColumnRenamed("shard", "new_shard")
    before.join(after, Seq("key"))
      .select(col("key"), col("old_shard"), col("new_shard"),
        (col("key") % oldShards).as("old_mod"), (col("key") % newShards).as("new_mod"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(when(col("old_shard") =!= col("new_shard"), 1L).otherwise(0L))
          .as("n_moved_hrw"),
        sum(when(col("old_mod") =!= col("new_mod"), 1L).otherwise(0L))
          .as("n_moved_mod"))
      .select(col("n_keys"), col("n_moved_hrw"), col("n_moved_mod"),
        (col("n_moved_hrw").cast("double") / col("n_keys").cast("double"))
          .as("frac_moved_hrw"),
        (col("n_moved_mod").cast("double") / col("n_keys").cast("double"))
          .as("frac_moved_mod"))
  }

  /** The comparison step of the shard-merge audits: full-outer join the
    * merged and the direct sketch cells on `keys` and count the cells
    * present on one side only or valued differently — one row,
    * `n_mismatch`, 0 when the merge is exact. A set-valued sketch passes
    * a constant column on each side, so only presence counts. */
  def mergeMismatches(merged: DataFrame, direct: DataFrame, keys: Seq[String],
      mergedCol: String, directCol: String): DataFrame = {
    val (m, d) = (col(mergedCol), col(directCol))
    merged.join(direct, keys, "full_outer")
      .agg(coalesce(sum(when(m.isNull || d.isNull || m =!= d, lit(1L))
        .otherwise(lit(0L))), lit(0L)).as("n_mismatch"))
  }
}
