package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter ingest screen — the membership sketch that lets a 100 TB
  * corpus answer "have we already ingested this document?" without joining
  * every incoming batch against the full corpus. Build: each existing
  * document sets k bit positions derived from one md5 (Kirsch-Mitzenmacher
  * double hashing, pos_j = (h1 + j·h2) mod m — the same h1/h2 split the
  * MinHash family uses, so the DuckDB oracle replays it verbatim). Probe:
  * an incoming document is a MAYBE (bloom_hit) iff all k of its positions
  * are set; a miss is a GUARANTEED first sight — the screen has false
  * positives, never false negatives, which is the direction ingest dedup
  * needs (a miss skips the expensive exact check entirely).
  *
  * Spark shape: the build is one shuffle of k·N (doc, position) rows into
  * m/64 packed words (`bit_or` of single-bit masks — order-free, so the
  * distributed aggregation is deterministic); the packed filter collects to
  * the driver as a BOUNDED model (m/64 longs — the same contract as PQ
  * codebooks and k-means centroids) and rides into the probe as a literal
  * array column, making the probe side a pure codegen'd projection: zero
  * joins, zero shuffles, prunes before any exact-dedup machinery runs.
  * At production scale m grows with the corpus (~10 bits/doc); past the
  * point where m/64 longs comfortably broadcast (~2^30 bits), shard the
  * filter by ingest partition (per-date/per-source filters) — the build
  * and probe shapes are unchanged per shard.
  *
  * The returned frame carries the exact-membership audit column
  * (`exact_dup`, via an md5 anti-join against the existing corpus) so the
  * false-positive rate is measurable — that audit join is the cost the
  * screen EXISTS to avoid and is included here because this operator's
  * gate is an evaluation, not the production path.
  */
object Bloom {

  private def h1(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")
  private def h2(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 9, 8), 16, 10).cast("long")

  /** Screen `incoming` against a Bloom filter built over `existing`.
    * Output: one row per incoming document — (id, bloom_hit, exact_dup),
    * with bloom_hit ⊇ exact_dup (no false negatives, by construction).
    */
  def screen(existing: DataFrame, incoming: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      mBits: Int = 65536, k: Int = 4): DataFrame = {
    require(mBits % 64 == 0 && mBits > 0, s"mBits must be a positive multiple of 64, got $mBits")
    require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")
    val nWords = mBits / 64

    // Build: k positions per existing doc -> packed 64-bit words.
    val posCols = (0 until k).map(j =>
      (h1(col(textCol)) + lit(j.toLong) * h2(col(textCol))) % mBits)
    val words = existing
      .select(explode(array(posCols: _*)).as("pos"))
      .select((col("pos") / 64).cast("int").as("widx"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("mask"))
      .groupBy("widx").agg(expr("bit_or(mask)").as("word"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val filterModel = array((0 until nWords)
      .map(i => lit(words.getOrElse(i, 0L))): _*)

    // Probe: pure projection against the literal filter — every hash,
    // index, and bit test inlines into one codegen'd expression per doc
    // (k is a small pinned constant, so the k-term AND is bounded, unlike
    // a model-sized fold).
    val withPos = incoming.select(
      (col(idCol) +: col(textCol) +: (0 until k).map(j =>
        ((h1(col(textCol)) + lit(j.toLong) * h2(col(textCol))) % mBits)
          .as(s"pos_$j"))): _*)
    val hitSql = (0 until k)
      .map(j => s"(element_at(fm, cast(pos_$j div 64 as int) + 1) & " +
        s"shiftleft(1L, cast(pos_$j % 64 as int))) != 0")
      .mkString(" AND ")
    val screened = withPos.withColumn("fm", filterModel)
      .selectExpr(idCol, textCol, s"cast($hitSql as int) as bloom_hit")

    // Exact audit: anti-join direction a production screen would skip on
    // bloom misses; kept unconditional here so the gate measures fp rate.
    val exHash = existing.select(md5(col(textCol).cast("binary")).as("eh")).distinct()
    screened
      .join(exHash, md5(col(textCol).cast("binary")) === col("eh"), "left")
      .select(col(idCol), col("bloom_hit"),
        when(col("eh").isNotNull, 1).otherwise(0).as("exact_dup"))
  }

  /** Bloom shard-merge audit — the membership sketch's proof in the
    * mergeable-sketch audit family (x175 MinHash elementwise-min,
    * x191/x201 HLL register-max, x219 KMV bottom-k-of-union, x226 AMS
    * addition, x228 CMS addition): per-shard packed bit-word grids
    * merged by plain bitwise OR must equal the grid built directly over
    * the whole corpus, word for word (`n_mismatch` contract 0 — OR is
    * the filter's union operator, idempotent and order-free, so shard
    * layout can never change a bit). The merged filter is then USED,
    * not just compared: a deterministic probe set of guaranteed-fresh
    * strings measures the false-positive rate (with an exact-membership
    * audit column so the rate is honest even if a probe collides with a
    * real document), and the popcount/fill ratio ride along — the
    * quantities that tell an ingest pipeline when the filter is
    * saturating and needs re-sizing.
    *
    * Representation note: the AUDIT packs positions into 32-bit words
    * (mask ≤ 2³¹, sign-safe in every engine — DuckDB's BIGINT `<<`
    * raises on bit 63, so a 64-bit-packed oracle could not replay the
    * top bit), while the production [[screen]] keeps 64-bit words; the
    * OR-merge property is representation-independent, the word size is
    * layout, not semantics.
    *
    * Scale shape: one k·N position explode into m/32 packed words per
    * shard — bounded state regardless of corpus size, merged by one
    * `bit_or` aggregation; probes join the widx-keyed merged grid
    * (broadcast — m/32 rows). At 100 TB this is the per-ingest-shard
    * filter fleet of the [[screen]] scaladoc: each shard ships m/32
    * longs, the coordinator ORs them, membership answers never need the
    * corpus again.
    */
  def mergeAudit(docs: DataFrame, nShards: Int = 8, mBits: Int = 4096,
      k: Int = 4, nProbes: Int = 2048, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(nShards >= 2, s"nShards must be >= 2, got $nShards")
    require(mBits % 32 == 0 && mBits > 0,
      s"mBits must be a positive multiple of 32, got $mBits")
    require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")
    require(nProbes >= 1, s"nProbes must be positive, got $nProbes")
    val spark = docs.sparkSession

    def positions(df: DataFrame, c: Column): DataFrame = df.select(
      (df.columns.map(col).toSeq :+
        explode(array((0 until k).map(j =>
          (h1(c) + lit(j.toLong) * h2(c)) % mBits): _*)).as("pos")): _*)
    def packed(df: DataFrame, keys: Column*): DataFrame = df
      .select((keys :+ (col("pos") / 32).cast("int").as("widx") :+
        expr("shiftleft(1L, cast(pos % 32 as int))").as("mask")): _*)
      .groupBy((keys :+ col("widx")): _*)
      .agg(expr("bit_or(mask)").as("word"))

    val pos = positions(
      docs.select(pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        col(textCol).as("t")), col("t"))
    val shardWords = packed(pos, col("shard"))
    // The merge under audit: per-shard grids folded by plain bitwise OR.
    val merged = shardWords.groupBy("widx")
      .agg(expr("bit_or(word)").as("w_merged"))
    val direct = packed(pos.drop("shard"))
      .withColumnRenamed("word", "w_direct")
    val mm = Sharding.mergeMismatches(merged, direct, Seq("widx"), "w_merged", "w_direct")
    val bits = merged.agg(
      coalesce(sum(expr("bit_count(w_merged)")).cast("long"), lit(0L))
        .as("bits_set"))

    // Probe the MERGED filter with a deterministic fresh-string set; the
    // exact-membership join keeps the fp rate honest if a probe string
    // ever equals a real document.
    val probeStrings = spark.range(nProbes.toLong)
      .select(concat(lit("bloomprobe|"), col("id").cast("string")).as("t"))
    val probes = positions(probeStrings, col("t"))
    val probePos = probes.select(col("t"),
      (col("pos") / 32).cast("int").as("widx"),
      expr("shiftleft(1L, cast(pos % 32 as int))").as("mask"))
    val hits = probePos
      .join(broadcast(merged), Seq("widx"), "left")
      .groupBy("t")
      .agg(min(when(col("w_merged").isNotNull &&
        col("w_merged").bitwiseAND(col("mask")) =!= 0L, lit(1))
        .otherwise(lit(0))).as("hit"))
    // Exact-membership audit, corpus-side-streamable: the probe set is
    // the bounded side (nProbes rows), so it BROADCASTS as the build
    // side of a LEFT SEMI join and the corpus-sized hash table streams
    // past it. (An outer join that PRESERVES the probe side cannot
    // build it — a right-outer BHJ must build left, i.e. the corpus —
    // so membership is counted separately here and stitched to the
    // probe-side aggregates, keeping the corpus out of every build
    // position.)
    val docHash = docs.select(md5(col(textCol).cast("binary")).as("eh")).distinct()
    // The probe-hash build side comes from the PRE-JOIN probe set (the
    // generated strings themselves), not from the filter-probe pipeline
    // — same values, but the broadcast build is independent of the
    // grid-join subtree.
    val probeHash = probeStrings.select(md5(col("t").cast("binary")).as("ph"))
    val members = docHash
      .join(broadcast(probeHash), col("eh") === col("ph"), "left_semi")
      .agg(count(lit(1)).as("n_probe_members"))
    val probeAgg = hits.agg(count(lit(1)).as("n_probes"),
      coalesce(sum(col("hit").cast("long")), lit(0L)).as("n_bloom_hits"))
    val probeAudit = probeAgg.crossJoin(broadcast(members))

    bits.crossJoin(broadcast(mm)).crossJoin(broadcast(probeAudit))
      .select(lit(nShards.toLong).as("n_shards"), lit(mBits).as("m_bits"),
        lit(k).as("k"), col("n_mismatch"), col("bits_set"),
        round(col("bits_set").cast("double") / lit(mBits.toDouble), 6)
          .as("fill_ratio"),
        col("n_probes"), col("n_probe_members"), col("n_bloom_hits"),
        round((col("n_bloom_hits") - col("n_probe_members")).cast("double")
          / (col("n_probes") - col("n_probe_members")).cast("double"), 6)
          .as("fp_rate"))
  }
}
