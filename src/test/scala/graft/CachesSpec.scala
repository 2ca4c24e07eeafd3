package graft

import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.ops.Ckpt

/** Pinned cache-lifecycle contracts (round-13 directives 1 and 3).
  *
  * Contract: every DataFrame a module cache hands out must SURVIVE that
  * module's `clearCaches` — eviction may drop blocks, but a caller-held
  * frame transparently recomputes on its next action (so caches store
  * recomputable `.cache()` frames, never tracked localCheckpoints, whose
  * blocks are unrecomputable once released — the round-12 kmCache
  * use-after-free). One held-frame-across-clearCaches test per cached
  * family, plus the mechanical tripwire: `Ckpt.Handle.release` throws if
  * a registered cache entry still reads the handle's RDDs. One test
  * that `Ckpt.clearAll` reaches every memo family, and a lint that keeps
  * every DataFrame-valued TrieMap inside the `Ckpt.Memo` registry.
  */
class CachesSpec extends SparkSuite {
  private def docs = spark.read.parquet(s"$Sf/documents.parquet")
  private def emb = spark.read.parquet(s"$Sf/embeddings.parquet")

  test("Ckpt tripwire: release under a registered cache reader throws") {
    import spark.implicits._
    val (ck, h) = Ckpt.tracked(Seq(1, 2, 3).toDF("x"))
    // A derived frame reading the checkpoint carries its LogicalRDD too.
    val derived = ck.filter(org.apache.spark.sql.functions.col("x") > 1)
    Ckpt.registerCached(derived, "CachesSpec.memo")
    try {
      val e = intercept[IllegalStateException](h.release())
      assert(e.getMessage.contains("CachesSpec.memo"))
      assert(ck.count() === 3, "blocks must still be live after refused release")
    } finally Ckpt.unregisterCached(derived, "CachesSpec.memo")
    h.release() // legal now; ck is unrecomputable past this point
  }

  /** Every src/main source file with comments/scaladoc stripped: a doc
    * sentence merely MENTIONING a type in a cache-bearing module must not
    * fail a lint — only code that actually names it. */
  private def mainSources: List[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p))
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//.*", ""))
      .toList
    finally walk.close()
  }

  test("lint: only ops.Ckpt names a tracked checkpoint or its Handle") {
    // Wider than the rule it replaces (no cache map may store a
    // Ckpt.Handle), which still holds for every file.
    val names = Seq("Ckpt.Handle", "Ckpt.tracked", "trackedObserved", "Ckpt.empty")
    val offenders = mainSources.flatMap { case (p, src) =>
      val named =
        if (p.endsWith("ops/Ckpt.scala")) Nil else names.filter(src.contains)
      val stored =
        if (src.contains("TrieMap") && src.contains("Ckpt.Handle")) Seq("TrieMap") else Nil
      (named ++ stored).map(n => s"$p: $n")
    }
    assert(offenders.isEmpty,
      s"tracked checkpoints are created, held and released only in ops.Ckpt " +
        s"(iterate, scoped): $offenders")
  }

  test("lint: DataFrame memo maps live only in ops.Ckpt and warehouse.View") {
    // The type arguments of each TrieMap mention: the bracketed text
    // after "TrieMap" (past an optional ".empty"), brackets balanced.
    def trieMapTypeArgs(src: String): Iterator[String] =
      "TrieMap\\s*(\\.\\s*empty\\s*)?\\[".r.findAllMatchIn(src).map { m =>
        var (depth, i) = (1, m.end)
        while (depth > 0 && i < src.length) {
          if (src(i) == '[') depth += 1 else if (src(i) == ']') depth -= 1
          i += 1
        }
        src.substring(m.end, i)
      }
    val allowed = Set("ops/Ckpt.scala", "warehouse/View.scala")
    val offenders = mainSources.collect {
      case (p, src) if !allowed.exists(p.endsWith) &&
          trieMapTypeArgs(src).exists(_.contains("DataFrame")) => p
    }
    assert(offenders.isEmpty,
      s"DataFrame memo map outside the Ckpt.Memo registry (declare a " +
        s"Ckpt.Memo so clearAll reaches it): $offenders")
  }

  test("Ckpt.clearAll empties every memo family and keeps View.dw") {
    import org.apache.spark.sql.functions.col
    import graft.ext.{Curation, Pipeline}
    val memoFamilies = Set("Dedup.shingleCache", "Dedup.sigCache",
      "Dedup.rawSigCache", "Dedup.setCache", "Dedup.pairCache",
      "Dedup.candCache", "Dedup.clusterCache", "Similarity.pairsCache",
      "Similarity.candCache", "Similarity.kmCache", "TextAnalysis.wordCache",
      "Curation.deltaCellCache", "Kmv.sketchCache", "Report.monthlyCache")
    Ckpt.clearAll(spark)
    val view = graft.warehouse.View.dw(spark, Sf)
    view.count()
    // Entries other suites in this JVM left behind are not this test's.
    val baseline = org.apache.spark.sql.CachedEntries(spark)

    val u = Pipeline.saltedUniform(col("doc_id"), "caches|")
    val ue = Pipeline.saltedUniform(col("vec_id"), "caches|")
    Seq(
      Dedup.minhashSignatures(docs), // shingles, raw signatures, signatures
      Dedup.lshDedupPairs(docs), // pairs, sets
      Dedup.incrementalLshDedup(docs.filter(u >= 0.25), docs.filter(u < 0.25)),
      Dedup.duplicateClusters(docs),
      Similarity.annPairs(emb, 0.8), // candidates, pairs
      Similarity.kMeans(emb, 4, 2)._2,
      TextAnalysis.bpe(docs, 3)._1,
      Curation.incrementalSemanticDedup(emb.filter(ue >= 0.25), emb.filter(ue < 0.25)),
      graft.ops.Kmv.sketchesOf(docs, 16),
      SparkEntry.queries("r02_monthly_revenue_trend")(spark, Sf)
    ).foreach(_.count())
    assert(Ckpt.memoOwners(spark) === memoFamilies)

    Ckpt.clearAll(spark)
    assert(Ckpt.memoOwners(spark).isEmpty)
    assert((Ckpt.registeredOwners(spark) & memoFamilies).isEmpty)
    assert(org.apache.spark.sql.CachedEntries(spark) === baseline,
      "a memo build left a cached frame clearAll does not reach")
    // The served frame may be a coalesce(1) over the cache entry, so the
    // check reads the entry itself: a fresh plan over the view must still
    // find the cached relation, with its blocks loaded.
    val cached = view.select("*").queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cached.exists(_.cacheBuilder.isCachedColumnBuffersLoaded),
      "View.dw must stay cached")
  }

  test("Similarity.kMeans labels held across clearCaches recompute identically") {
    val (_, a1) = Similarity.kMeans(emb, 4, 2)
    val before = a1.select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    Similarity.clearCaches(spark)
    val after = a1.select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(before === after)
    Similarity.clearCaches(spark)
  }

  test("Similarity.annPairs held across clearCaches recomputes identically") {
    val p1 = Similarity.annPairs(emb, 0.8)
    val n = p1.count()
    Similarity.clearCaches(spark)
    assert(p1.count() === n)
    Similarity.clearCaches(spark)
  }

  test("Dedup pair/shingle frames held across clearCaches recompute identically") {
    val sh = Dedup.shingles(docs)
    val pairs = Dedup.lshDedupPairs(docs)
    val (nSh, nP) = (sh.count(), pairs.count())
    Dedup.clearCaches(spark)
    assert(sh.count() === nSh)
    assert(pairs.count() === nP)
    Dedup.clearCaches(spark)
  }

  test("TextAnalysis BPE frames held across clearCaches recompute identically") {
    val (merges, _) = TextAnalysis.bpe(docs, 3)
    val before = merges.collect().toSeq
    TextAnalysis.clearCaches(spark)
    assert(merges.collect().toSeq === before)
    TextAnalysis.clearCaches(spark)
  }

  test("Kmv sketches held across clearCaches recompute identically") {
    val sk = graft.ops.Kmv.sketchesOf(docs, 16)
    val before = sk.collect().map(r =>
      r.getString(0) -> r.getSeq[Long](1)).toMap
    graft.ops.Kmv.clearCaches(spark)
    assert(sk.collect().map(r =>
      r.getString(0) -> r.getSeq[Long](1)).toMap === before)
    graft.ops.Kmv.clearCaches(spark)
  }

  test("Report monthly rollup held across clearCaches recomputes identically") {
    val m = SparkEntry.queries("r02_monthly_revenue_trend")(spark, Sf)
    val before = m.collect().toSeq
    graft.queries.Report.clearCaches(spark)
    assert(m.collect().toSeq === before)
    graft.queries.Report.clearCaches(spark)
  }
}
