package graft

import graft.ext.{Dedup, Multimodal, Pipeline, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Unit specs for the training-data-pipeline operators on hand-built
  * frames (the oracle gate covers the real-data path; these pin the edge
  * semantics).
  */
class ExtSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))

  test("exact dedup: identical texts share a group, min doc_id is canonical") {
    val d = Dedup.exact(docs(1L -> "a b c", 2L -> "a b c", 3L -> "different text"))
      .orderBy("doc_id").collect()
    assert(d(0).getAs[Long]("group_size") === 2)
    assert(d(0).getAs[Boolean]("is_canonical"))
    assert(!d(1).getAs[Boolean]("is_canonical"))
    assert(d(2).getAs[Long]("group_size") === 1)
  }

  test("ngram jaccard: near-identical docs found, disjoint docs not") {
    val pairs = Dedup.ngramJaccardPairs(docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "entirely unrelated words appear in this one"), 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("lsh dedup agrees with exact on identical documents") {
    val d = docs(1L -> "w1 w2 w3 w4 w5 w6", 2L -> "w1 w2 w3 w4 w5 w6", 3L -> "x1 x2 x3")
    val lsh = Dedup.lshDedupPairs(d, 0.9).select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(lsh.toSeq === Seq((1L, 2L)))
  }

  test("lsh bucketCap drops hot-bucket pairs, keeps cold-bucket pairs") {
    // 10 identical clones collide in ALL 8 bands (bucket width 10 each):
    // the quadratic case the guard exists for. Docs 11/12 are near-dups of
    // each other only — width-2 buckets, untouched by the cap.
    val clones = (1L to 10L).map(_ -> "c1 c2 c3 c4 c5 c6 c7 c8")
    val d = docs(clones :+ (11L -> "n1 n2 n3 n4 n5 n6 n7 n8")
      :+ (12L -> "n1 n2 n3 n4 n5 n6 n7 zz"): _*)
    val uncapped = Dedup.lshDedupPairs(d, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size === 45 + 1, s"got $uncapped")
    val capped = Dedup.lshDedupPairs(d, 0.5, bucketCap = 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((11L, 12L)), s"got $capped")
  }

  test("bucketCap is monotone: capped pair sets nest as the cap rises") {
    // Mixed corpus: a 6-clone hot cluster + 3 chained near-dups + noise.
    val d = docs(((1L to 6L).map(_ -> "h1 h2 h3 h4 h5 h6 h7 h8") ++ Seq(
      11L -> "n1 n2 n3 n4 n5 n6 n7 n8",
      12L -> "n1 n2 n3 n4 n5 n6 n7 zz",
      13L -> "qq n2 n3 n4 n5 n6 n7 zz",
      21L -> "u1 u2 u3 u4 u5 u6 u7 u8")): _*)
    def pairs(cap: Int) = Dedup.lshDedupPairs(d, 0.5, cap)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val at3 = pairs(3); val at8 = pairs(8); val uncapped = pairs(0)
    assert(at3.subsetOf(at8), s"cap 3 found pairs cap 8 lost: ${at3.diff(at8)}")
    assert(at8.subsetOf(uncapped), s"capped found pairs uncapped lost: ${at8.diff(uncapped)}")
    assert(uncapped.size > at3.size, "caps never engaged on the hot cluster")
  }

  test("duplicate clusters: transitive chains collapse to the min-id component") {
    // 1~2 and 2~3 are near-dups; 1~3 are NOT directly similar enough —
    // the component must still merge all three (transitivity), label 1.
    val d = docs(
      1L -> "w1 w2 w3 w4 w5 w6 w7 w8",
      2L -> "w1 w2 w3 w4 w5 w6 w7 zz",
      3L -> "yy w2 w3 w4 w5 w6 w7 zz",
      9L -> "a1 a2 a3 a4 a5 a6 a7 a8")
    val c = Dedup.duplicateClusters(d, 0.5).orderBy("doc_id")
      .select("doc_id", "cluster").as[(Long, Long)].collect().toMap
    assert(c(1L) === 1L && c(2L) === 1L && c(3L) === 1L)
    assert(c(9L) === 9L)
  }

  test("duplicate clusters: long chain converges in O(log diameter) star rounds") {
    // 24 docs in a sliding-window chain of 12-word docs: consecutive docs
    // share 10 of 12 bigrams (J=0.83 >= 0.75, LSH band hit prob ~0.9999),
    // skip-pairs only 9 of 13 (0.69 < 0.75) — the pair graph is a 23-edge
    // path. Min-label propagation needs ~24 rounds (and would hit the
    // 20-round cap); two-phase star contraction must collapse it in
    // O(log 23) rounds.
    val words = (0 until 40).map(i => s"w$i")
    val chain = docs((1L to 24L).map(i =>
      i -> words.slice(i.toInt - 1, i.toInt + 11).mkString(" ")): _*)
    val (labels, rounds) = Dedup.duplicateClustersWithRounds(chain, 0.75)
    val c = labels.select("doc_id", "cluster").as[(Long, Long)].collect().toMap
    assert((1L to 24L).forall(c(_) === 1L), s"labels $c")
    assert(rounds <= 10, s"took $rounds rounds")
  }

  test("componentsFromEdges maxIterations cutoff: partial labels stay valid, resume converges") {
    // A 40-node path (diameter 39) cut after ONE round cannot have
    // converged — the contract is that the cut loop still returns the
    // BEST-KNOWN labels: every node points at a smaller node of its own
    // component (or itself), never at a node from elsewhere, so a capped
    // production run degrades to coarser clusters, not to garbage.
    val nodes = (1L to 40L).toDF("doc_id")
    val edges = (1L to 39L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (cut, rounds1) = Dedup.componentsFromEdges(edges, nodes, maxIterations = 1)
    assert(rounds1 === 1)
    val cutLabels = cut.select("doc_id", "cluster").as[(Long, Long)].collect().toMap
    assert(cutLabels.forall { case (n, c) => c <= n && c >= 1L })
    assert(cutLabels.values.toSet.size > 1, "one round cannot collapse diameter 39")
    // Uncut: the same graph converges to the single min label in
    // O(log diameter) rounds.
    val (full, rounds2) = Dedup.componentsFromEdges(edges, nodes, maxIterations = 20)
    assert(full.select("cluster").as[Long].collect().forall(_ === 1L))
    assert(rounds2 > 1 && rounds2 <= 10, s"took $rounds2 rounds")
    // Jobs per call: 10 (one round) and 52 (seven rounds); 12 and 54
    // before the loop moved onto Ckpt.iterate. The initial edge count now
    // comes from the initial checkpoint's own count job, and that folded
    // count is the whole difference: a second count() of the checkpoint
    // ran 2 jobs (AQE's map-stage job and the result job). The final edge
    // state is the one RDD a call leaves persisted, as before.
    assert(jobsOf(Dedup.componentsFromEdges(edges, nodes, maxIterations = 1)) === 10)
    assert(jobsOf(Dedup.componentsFromEdges(edges, nodes, maxIterations = 20)) === 52)
    assert(persistedBy(Dedup.componentsFromEdges(edges, nodes, 20)).size === 1)
    // No edges: no round runs, and the empty initial state is kept.
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    var noneRounds = -1
    assert(persistedBy { noneRounds = Dedup.componentsFromEdges(none, nodes)._2 }.size === 1)
    assert(noneRounds === 0)
  }

  test("componentsFromEdges: a failing call leaves no persisted RDD") {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import org.apache.spark.sql.execution.LogicalRDD
    val nodes = (1L to 10L).toDF("doc_id")
    val edges = (1L to 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // The first round's star frame fails to plan, with the initial edge
    // state live.
    val boom = new RuntimeException("round 1 fails")
    val left = persistedBy {
      val e = intercept[RuntimeException](failingPlans(boom)(p =>
          p.exists(_.isInstanceOf[Window]) && p.exists(_.isInstanceOf[LogicalRDD])) {
        Dedup.componentsFromEdges(edges, nodes)
      })
      assert(e eq boom)
    }
    assert(left.isEmpty, s"a failed call left RDDs $left persisted")
  }

  test("contamination flags train docs sharing an n-gram with eval, not disjoint ones") {
    val evalDocs = docs(100L -> "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10")
    val train = docs(
      1L -> "x0 e1 e2 e3 e4 e5 e6 e7 e8 x9",   // contains eval 8-gram e1..e8
      2L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",  // disjoint
      3L -> "e1 e2 e3")                         // short doc: whole-doc gram, no 8-gram hit
    val r = TextAnalysis.contamination(train, evalDocs, n = 8).orderBy("doc_id")
      .select("doc_id", "n_eval_grams", "contaminated")
      .as[(Long, Long, Boolean)].collect()
    assert(r(0) === ((1L, 1L, true)))  // the shared gram is e1..e8
    assert(r(1) === ((2L, 0L, false)))
    assert(r(2) === ((3L, 0L, false)))
  }

  test("curate composes: dupes out, low-quality out, quota capped, split annotated") {
    // Rich prose scores high (stopwords + length); "zz" scores low. Docs
    // 1/2 are exact dupes -> only min-id 1 survives dedup.
    val prose = (1 to 60).map(i => if (i % 3 == 0) "the" else s"w$i").mkString(" ")
    val d = Seq(
      (1L, prose, "a"), (2L, prose, "a"), (3L, prose + " extra", "a"),
      (4L, "zz", "a"), (5L, prose + " other", "b"))
      .toDF("doc_id", "text", "source")
    val out = Pipeline.curate(d, minQuality = 0.4, quota = 10)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 3L, 5L)) // 2 deduped, 4 low-quality
    assert(out.forall(r => r.getLong(3) >= 1L && r.getLong(3) <= 10L))
    assert(out.forall(r => Set("train", "val", "test")(r.getString(4))))
    // Tighter quota bites per source.
    assert(Pipeline.curate(d, minQuality = 0.4, quota = 1)
      .groupBy("source").count().as[(String, Long)].collect().toMap
      === Map("a" -> 1L, "b" -> 1L))
  }

  test("sourceQuota caps every source at the quota with a stable uniform pick") {
    val d = (1L to 30L).map(i => (i, s"doc $i text", if (i <= 20) "a" else "b"))
      .toDF("doc_id", "text", "source")
    val kept = Pipeline.sourceQuota(d, 8)
    val bySrc = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc === Map("a" -> 8L, "b" -> 8L))
    assert(kept.agg(max("quota_rank")).first().getLong(0) === 8L)
    // Determinism: a rerun picks the identical subset.
    val again = Pipeline.sourceQuota(d, 8)
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ===
      again.select("doc_id").as[Long].collect().sorted.toSeq)
    // Under-quota sources pass through whole.
    assert(Pipeline.sourceQuota(d, 25).count() === 30L)
  }

  test("simhash: identical docs identical hash; blocks decompose the hash") {
    val s = Dedup.simhash(docs(1L -> "alpha beta gamma", 2L -> "alpha beta gamma"))
      .orderBy("doc_id").collect()
    assert(s(0).getAs[Long]("simhash") === s(1).getAs[Long]("simhash"))
    val h = s(0).getAs[Long]("simhash")
    (0 until Dedup.NumSimBands).foreach { b =>
      assert(s(0).getAs[Long](s"block$b") === ((h >> (4 * b)) & 15L))
    }
  }

  test("simhash banding has full recall at hamming<=3 (vs all-pairs verify)") {
    // 12 short docs; compute all-pairs hamming ground truth and check the
    // banded join finds every pair with distance <= 3.
    val d = docs((1L to 12L).map(i => i -> s"w${i % 4} common tokens here x${i % 3} y${i % 2}"): _*)
    val sh = Dedup.simhash(d).select("doc_id", "simhash").as[(Long, Long)].collect()
    val truth = (for {
      (ida, ha) <- sh; (idb, hb) <- sh if ida < idb
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ida, idb)).toSet
    val banded = Dedup.simhashNearDupPairs(d, 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(banded === truth)
  }

  test("token stats: counts and BPE-ish splitting") {
    val r = TextAnalysis.tokenStats(docs(1L -> "hello world, 42 times!"))
      .first()
    assert(r.getAs[Int]("n_tokens") === 4)
    // hello / world / , / 42 / times / ! -> 6 BPE-ish tokens
    assert(r.getAs[Int]("n_bpe_tokens") === 6)
  }

  test("quality score stays in [0,1] on real data") {
    val q = TextAnalysis.qualityScore(spark.read.parquet(s"$Sf/documents.parquet"))
    assert(q.filter(col("quality_score") < 0 || col("quality_score") > 1).count() === 0)
  }

  test("language id picks the marker language deterministically") {
    val r = TextAnalysis.languageId(
      Seq((1L, "le chat et la porte", "fr"), (2L, "the dog and the door", "en"))
        .toDF("doc_id", "text", "lang")).orderBy("doc_id").collect()
    assert(r(0).getAs[String]("predicted_lang") === "fr")
    assert(r(1).getAs[String]("predicted_lang") === "en")
  }

  test("fingerprint: shared 5-gram window => shared fingerprint candidates") {
    val fp = TextAnalysis.fingerprint(docs(
      1L -> "a b c d e f", 2L -> "a b c d e f")).select("fingerprint").distinct()
    assert(fp.count() === 1)
  }

  test("embeddings are unit-normalized (dot == cosine contract)") {
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
      .select(Similarity.asDouble(col("embedding")).as("emb"))
    val bad = e.select(abs(Similarity.dot(col("emb"), col("emb")) - 1.0).as("d"))
      .filter(col("d") > 1e-6)
    assert(bad.count() === 0)
  }

  test("brute kNN ranks the exact nearest vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.bruteKnn(vecs, Seq(0L), 2).orderBy("rank")
      .select("neighbor_id").as[Long].collect()
    assert(r.toSeq === Seq(1L, 2L))
  }

  test("spherical k-means: objective improves monotonically; deterministic; valid labels") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    def meanScore(iters: Int): Double = {
      val (_, assigned) = Similarity.kMeans(emb, 8, iters)
      assigned.agg(avg("score")).head().getDouble(0)
    }
    val s0 = meanScore(0)
    val s3 = meanScore(3)
    val s6 = meanScore(6)
    assert(s3 >= s0 - 1e-12 && s6 >= s3 - 1e-12, s"objective regressed: $s0 -> $s3 -> $s6")
    assert(s3 > s0, "training never improved on the pinned-id init")
    val (c1, a1) = Similarity.kMeans(emb, 8, 3)
    // Drop the model cache so the second run actually retrains —
    // determinism of the computation, not of a map lookup.
    Similarity.clearCaches(spark)
    val (c2, a2) = Similarity.kMeans(emb, 8, 3)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)
    val l1 = a1.select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    assert(l1 === a2.select("vec_id", "cluster").as[(Long, Int)].collect().toMap)
    assert(l1.values.forall(c => c >= 0 && c < 8))
    assert(a1.count() === emb.count())
  }

  test("k-means trains at production quantizer width (k=256): constant plan size in k") {
    // The round-8 scale caveat: the old assignment was a k-deep when-fold
    // whose codegen depth grew linearly in k (seconds of janino compile
    // at k=8, intractable at PQ/IVF production sizes). The broadcast-join
    // argmin keeps the centroid model in a broadcast relation, so k=256
    // must train in the same plan shape as k=8 — this test simply cannot
    // finish in suite time under the old fold.
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    Similarity.clearCaches(spark)
    val (cs, labels) = Similarity.kMeans(emb, 256, 1)
    assert(cs.length === 256)
    val l = labels.select("vec_id", "cluster").as[(Long, Int)].collect()
    assert(l.length === 500)
    assert(l.forall { case (_, c) => c >= 0 && c < 256 })
    // Self-consistency at width: each of the 256 seed vectors (vec_id<256
    // IS the init) stays its own nearest centroid after one Lloyd step
    // only if clusters moved — weaker but runnable: labels must use a
    // healthy spread of the 256 cells, not collapse to a handful.
    assert(l.map(_._2).distinct.length > 64,
      s"only ${l.map(_._2).distinct.length} of 256 cells used — assignment degenerated")
    Similarity.clearCaches(spark)
  }

  test("snapped k-means: centroids on the 1e-6 grid; snapping barely moves the objective") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val (cs, labels) = Similarity.kMeans(emb, 8, 2, snapScale = 1e6)
    // Every coordinate is a fixed point of the snap (it IS on the grid).
    cs.flatten.foreach(x => assert(x === math.floor(x * 1e6 + 0.5) / 1e6))
    // Snapping is a 1e-6 perturbation: labels still valid, objective
    // within noise of the unsnapped run.
    val snapped = labels.agg(avg("score")).head().getDouble(0)
    val raw = Similarity.kMeans(emb, 8, 2)._2.agg(avg("score")).head().getDouble(0)
    assert(math.abs(snapped - raw) < 1e-4, s"snap changed objective: $raw vs $snapped")
    // Learned-centroid search returns k rows per query like the pinned path.
    val out = Similarity.ivfSearchLearned(emb, 0L until 3L, 4, 8, 4, 2, 1e6)
    assert(out.count() === 12)
  }

  test("IVF search: every vector lands in one cell; full-probe recovers brute-force exactly") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val assigned = Similarity.ivfAssign(emb, 16)
    assert(assigned.count() === emb.count())
    assert(assigned.select("cluster").distinct().count() <= 16)
    // With nprobe = numCentroids the candidate set is the whole corpus ->
    // results must equal brute force; with nprobe=4 it is a subset ranking.
    val brute = Similarity.bruteKnn(emb, Seq(0L, 1L), 5)
      .as[(Long, Long, Long)].collect().toSet
    val full = Similarity.ivfSearch(emb, Seq(0L, 1L), 5, 16, 16)
      .as[(Long, Long, Long)].collect().toSet
    assert(full === brute)
    val probed = Similarity.ivfSearch(emb, Seq(0L, 1L), 5, 16, 4)
    assert(probed.groupBy("qid").count().select("count").as[Long].collect().forall(_ === 5))
  }

  test("annPairs: high-recall exact-cosine subset of the brute-force ground truth") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val exact = Similarity.bruteNearDupPairs(emb, 0.4)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val ann = Similarity.annPairs(emb, 0.4)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    // Every banded pair is a true pair with the bit-identical cosine...
    ann.foreach { case (k, c) => assert(exact.get(k).contains(c)) }
    // ...and banding recall stays high at the corpus' near-dup range.
    assert(ann.size >= (exact.size * 0.8).toInt, s"recall ${ann.size}/${exact.size}")
  }

  test("x89 contract: banded ANN recall@5 on the pinned query set never drops below the floor") {
    // The x89 gate MEASURES recall; this pins it as a CONTRACT, so a
    // change that silently halves banding quality fails tests instead of
    // just shifting numbers in the artifact. Both sides (annTopK and
    // bruteKnn) are deterministic, so the measured recall is exact and
    // stable on the committed corpus — the floor has no noise margin to
    // leave.
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val r = Similarity.annRecall(emb, 0L until 10L, 5)
      .select(col("qid"), col("recall_at_k"), col("rr")).collect()
    val mean = r.map(_.getDouble(1)).sum / r.length
    assert(mean >= 0.8, f"mean recall@5 $mean%.2f fell below the 0.80 floor")
    // No individual query may go dark: the index must surface at least
    // 2 of each query's true top-5.
    assert(r.map(_.getDouble(1)).min >= 0.4,
      s"worst-query recall ${r.map(_.getDouble(1)).min} below 0.40")
  }

  test("containment pairs: contained side flagged, container side not; boundary is inclusive") {
    val d = docs(
      1L -> "alpha beta gamma",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      3L -> "xx yy zz",
      // 10 tokens each, 9 shared -> containment exactly 0.9 both ways.
      4L -> "a b c d e f g h i j",
      5L -> "a b c d e f g h i k")
    val r = Dedup.containmentPairs(d, 9, 10)
      .select("doc_a", "doc_b", "n_a", "n_b", "inter")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // doc1 (3 tokens) fully inside doc2 (10 tokens): ordered pair (1,2)
    // only — 2's containment in 1 is 3/10, far below 0.9.
    assert(r.contains((1L, 2L, 3L, 10L, 3L)))
    assert(!r.exists(p => p._1 == 2L && p._2 == 1L))
    assert(!r.exists(p => p._1 == 3L || p._2 == 3L))
    // Exactly-at-threshold pairs are kept, both directions (symmetric
    // sizes): integer test 10*9 >= 9*10.
    assert(r.contains((4L, 5L, 10L, 10L, 9L)) && r.contains((5L, 4L, 10L, 10L, 9L)))
  }

  test("keep-best retention: best quality survives its cluster, ties break to min id") {
    val text = "the quick brown fox jumps over the lazy dog and runs far away"
    val d = docs(1L -> text, 2L -> text, 3L -> "completely different content here")
    val r = Dedup.keepBestPerCluster(d, 0.3)
      .select("doc_id", "cluster", "kept").as[(Long, Long, Boolean)]
      .collect().sortBy(_._1).toSeq
    // 1 and 2 are identical -> one cluster; equal quality ties to id 1.
    assert(r === Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
  }

  test("mutual-kNN edges are canonical and present in both top-k lists") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val top = Similarity.annTopK(emb, 3)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val m = Similarity.mutualKnn(emb, 3)
      .select("src", "dst").as[(Long, Long)].collect()
    assert(m.nonEmpty, "corpus has near-dups; mutual edges must exist")
    assert(m.forall { case (s, d) => s < d }, "edges must be canonical")
    m.foreach { case (s, d) =>
      assert(top.contains((s, d)) && top.contains((d, s)),
        s"($s,$d) not mutual in the top-k lists")
    }
    // No vertex exceeds degree k by construction.
    val deg = m.flatMap { case (s, d) => Seq(s, d) }
      .groupBy(identity).map(_._2.length)
    assert(deg.max <= 3)
  }

  test("source divergence: a source matching the corpus blend scores 0, disjoint sources score ln 2") {
    import org.apache.spark.sql.functions.lit
    // Two sources with identical unigram distributions -> each equals
    // the corpus blend -> KL exactly 0 on the fixed-point grid.
    val same = Seq((1L, "x y", "A"), (2L, "x y", "B"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val r0 = TextAnalysis.sourceDivergence(same)
      .select("source", "kl_fp").as[(String, Long)].collect().toMap
    assert(r0 === Map("A" -> 0L, "B" -> 0L))
    // Fully disjoint equal-sized vocabularies: q(t) = p(t)/2 for every
    // own-token, so KL = ln 2 per source.
    val disjoint = Seq((1L, "x x x x", "A"), (2L, "y y y y", "B"))
      .toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
    val r1 = TextAnalysis.sourceDivergence(disjoint)
      .select("source", "kl_divergence").as[(String, Double)].collect().toMap
    assert(math.abs(r1("A") - math.log(2)) < 1e-6)
    assert(math.abs(r1("B") - math.log(2)) < 1e-6)
  }

  test("chunk dedup: first occurrence survives, repeats drop, documents reassemble in order") {
    val chunkA = (1 to 20).map(i => s"a$i").mkString(" ")
    val chunkB = (1 to 20).map(i => s"b$i").mkString(" ")
    val chunkC = (1 to 20).map(i => s"c$i").mkString(" ")
    val d = docs(
      1L -> s"$chunkA $chunkB",
      2L -> s"$chunkA $chunkC",  // first chunk repeats doc1's
      3L -> s"$chunkA $chunkB")  // fully duplicated
    val r = Pipeline.dedupChunks(d, 20)
      .select("doc_id", "n_chunks", "n_kept", "cleaned_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r(0) === ((1L, 2L, 2L, s"$chunkA $chunkB")))
    assert(r(1) === ((2L, 2L, 1L, chunkC)))
    assert(r(2) === ((3L, 2L, 0L, "")))
  }

  test("weighted Jaccard finds rare-token near-dups that unweighted Jaccard misses") {
    // doc1/doc2 share ONLY their two rare tokens (df=2); their common
    // tokens are corpus-wide filler (high df, negligible weight).
    val filler = (3L to 12L).map(i =>
      i -> "common1 common2 common3 common4 common5 common6 common7 common8")
    val d = docs((Seq(
      1L -> "rareaa rarebb rarecc raredd common1 common2",
      2L -> "rareaa rarebb rarecc raredd common3 common4") ++ filler): _*)
    val wj = Dedup.weightedJaccardPairs(d, 7, 10)
      .select("doc_a", "doc_b", "w_a", "w_b", "wjaccard")
      .as[(Long, Long, Long, Long, Double)].collect()
    val pair = wj.find(p => p._1 == 1L && p._2 == 2L)
    assert(pair.isDefined, s"rare-token pair must qualify: ${wj.toSeq}")
    assert(pair.get._5 >= 0.7 && pair.get._3 === pair.get._4)
    // The unweighted criterion at the same threshold rejects the pair:
    // 4 shared of 8 distinct tokens -> Jaccard 0.5 < 0.7.
    val uj = Dedup.prefixJaccardPairs(d, 7, 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(!uj.contains((1L, 2L)))
  }

  test("identical vectors land in the same LSH bucket") {
    val v = Array.tabulate(64)(i => (math.sin(i + 1) / 8).toFloat)
    val b = Similarity.lshBuckets(Seq((0L, v), (1L, v)).toDF("vec_id", "embedding"))
      .select("bucket").distinct()
    assert(b.count() === 1)
  }

  test("train split: deterministic, stable under corpus growth, fractions roughly honored") {
    val d = spark.read.parquet(s"$Sf/documents.parquet")
    val s1 = graft.ext.Pipeline.trainSplit(d).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    // Re-run = identical assignment (content-stable hash, no seed state).
    val s2 = graft.ext.Pipeline.trainSplit(d).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(s1 === s2)
    // Dropping half the corpus must not move any surviving document.
    val shrunk = graft.ext.Pipeline.trainSplit(d.filter(col("doc_id") < 250))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    shrunk.foreach { case (id, sp) => assert(s1(id) === sp) }
    val frac = s1.values.groupBy(identity).view.mapValues(_.size.toDouble / s1.size).toMap
    assert(math.abs(frac("train") - 0.8) < 0.08)
    assert(frac.keySet === Set("train", "val", "test"))
    // Sampling is the same primitive: the 0.8 sample IS the train split.
    val sampled = graft.ext.Pipeline.sampleByHash(d, 0.8).select("doc_id")
      .as[Long].collect().toSet
    assert(sampled === s1.collect { case (id, "train") => id }.toSet)
  }

  test("annTopK agrees with brute-force ranking on the candidates it surfaces") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val brute = Similarity.bruteKnn(emb, 0L until 50L, 1)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().toMap
    val top = Similarity.annTopK(emb, 1)
      .filter(col("vec_id") < 50)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // ANN's top-1 either IS the true nearest neighbor or the true one was
    // outside the banded candidate set — it can never rank a worse
    // candidate above a surfaced better one. Require high agreement.
    val agree = top.count { case (q, n) => brute(q) === n }
    assert(agree >= (top.size * 0.7).toInt, s"$agree/${top.size} top-1 agreement")
  }

  test("normalize strips case/punctuation and reports the dropped fraction") {
    val r = TextAnalysis.normalize(docs(1L -> "  Hello, WORLD!!  42  ")).first()
    assert(r.getAs[String]("norm_text") === "hello world 42")
    assert(r.getAs[Int]("raw_chars") === 22)
    assert(r.getAs[Int]("norm_chars") === 14)
  }

  test("tfidf ranks a document's rare term above its common term") {
    val r = TextAnalysis.tfidfTopK(docs(
      1L -> "shared shared rare1",
      2L -> "shared other other",
      3L -> "shared words here"), 1)
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    assert(r(1L) === "rare1") // df=1 beats 'shared' (df=3) despite tf=2
  }

  test("repetition stats: degenerate text scores high, varied text low") {
    val r = TextAnalysis.repetitionStats(docs(
      1L -> "spam spam spam spam spam spam",
      2L -> "one two three four five six"))
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Double]("dup_trigram_frac") > 0.7) // 4 trigrams, 1 distinct
    assert(r(0).getAs[Double]("top_token_frac") === 1.0)
    assert(r(1).getAs[Double]("dup_trigram_frac") === 0.0)
    assert(r(1).getAs[Long]("n_tokens") === 6L)
  }

  test("compression ratio: repetitive text compresses far below unique text") {
    val r = TextAnalysis.compressionRatio(spark, docs(
      1L -> ("spam " * 200),
      2L -> (1 to 200).map(i => s"u$i${i * 7919}").mkString(" ")))
      .orderBy("doc_id").collect()
    val repetitive = r(0).getAs[Double]("compression_ratio")
    val varied = r(1).getAs[Double]("compression_ratio")
    assert(repetitive < 0.1, s"repetitive=$repetitive")
    assert(varied > repetitive * 3, s"varied=$varied vs $repetitive")
    // Deterministic re-run
    val again = TextAnalysis.compressionRatio(spark, docs(1L -> ("spam " * 200)))
      .collect().head.getAs[Long]("deflate_bytes")
    assert(again === r(0).getAs[Long]("deflate_bytes"))
  }

  test("multimodal frame sampling: even windows, short payloads yield one frame") {
    val media = Multimodal.asMedia(docs(
      1L -> ("abcdefghij" * 10),     // 100 bytes
      2L -> "tiny"))                 // shorter than one frame
    val frames = Multimodal.frameSample(media, nFrames = 4, frameLen = 10)
      .orderBy("doc_id", "frame_idx").collect()
    val byDoc = frames.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc(1L).length === 4)
    assert(byDoc(1L).forall(_.getAs[Int]("frame_len") === 10))
    // First frame starts at the payload head; last covers the tail window.
    assert(new String(byDoc(1L).head.getAs[Array[Byte]]("frame")) === "abcdefghij")
    assert(byDoc(2L).length === 1)
    assert(new String(byDoc(2L).head.getAs[Array[Byte]]("frame")) === "tiny")
  }

  test("multimodal resize: byte-stride downsample respects target and keeps heads") {
    val media = Multimodal.asMedia(docs(1L -> ("x" * 1000), 2L -> "ab"))
    val out = Multimodal.resizeStub(spark, media, targetBytes = 100, parallelism = 2)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("orig_len") === 1000)
    assert(out(0).getAs[Int]("resized_len") === 100)
    assert(out(1).getAs[Int]("resized_len") === 2) // already under target
    val again = Multimodal.resizeStub(spark, media, 100).orderBy("doc_id").collect()
    assert(out.map(_.getAs[Array[Byte]]("content").toSeq).toSeq ===
      again.map(_.getAs[Array[Byte]]("content").toSeq).toSeq)
  }

  test("multimodal: features are fixed-width and deterministic; partition count respected") {
    val media = Multimodal.asMedia(docs(1L -> "abc", 2L -> "abcd"))
    val f = Multimodal.extractFeatures(spark, media, parallelism = 3)
    assert(f.rdd.getNumPartitions === 3)
    val rows = f.orderBy("doc_id").as[(Long, Seq[Double], Boolean)].collect()
    assert(rows.forall(_._2.length === Multimodal.FeatureDim))
    assert(rows(0)._2.head === 3.0) // byte length of "abc"
    val again = Multimodal.extractFeatures(spark, media).orderBy("doc_id")
      .as[(Long, Seq[Double], Boolean)].collect()
    assert(rows.toSeq === again.toSeq)
  }

  test("multimodal: corrupt raster-typed payload quarantines per record, not per stage") {
    val good = Multimodal.encodePpm(Multimodal.RasterImage(2, 2, 255, Array.fill(12)(7.toByte)))
    val media = Seq(
      (1L, Multimodal.PpmType, good),
      (2L, Multimodal.PpmType, "P6 not really a ppm".getBytes("UTF-8")),
      (3L, Multimodal.BmpType, Array[Byte](66, 77, 1, 2, 3))) // truncated BMP
      .toDF("doc_id", "media_type", "content")
    val f = Multimodal.extractFeatures(spark, media).orderBy("doc_id")
      .as[(Long, Seq[Double], Boolean)].collect()
    assert(f(0)._3 && f(0)._2(0) === 2.0) // real decode: width
    assert(!f(1)._3 && !f(2)._3)          // corrupt: flagged, stage alive
    // Fallback features are byteFeatures of the raw payload.
    assert(f(2)._2(0) === 5.0)
  }

  test("redaction masks emails and long numbers byte-exactly; counts match masks") {
    val d = docs(
      1L -> "mail me at john.doe@example.com or call 12345678 now",
      2L -> "no pii here 123456",  // 6 digits: below the 7-digit floor
      3L -> "digits 98765432@corp.com inside an email")
    val r = TextAnalysis.redact(d).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_emails") === 1L)
    assert(r(0).getAs[Long]("n_long_numbers") === 1L)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("mail me at <EMAIL> or call <NUM> now".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r(0).getAs[String]("redacted_md5") === expected)
    assert(r(1).getAs[Long]("n_emails") === 0L)
    assert(r(1).getAs[Long]("n_long_numbers") === 0L)
    // A digit run consumed by <EMAIL> is not double-counted as a number —
    // every reported count corresponds to a mask actually applied.
    assert(r(2).getAs[Long]("n_emails") === 1L)
    assert(r(2).getAs[Long]("n_long_numbers") === 0L)
  }

  test("temperature mix upsamples rare sources at the sqrt ratio; deterministic") {
    val d = ((1 to 900).map(i => (i.toLong, "big")) ++
      (901 to 1000).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val rates = Pipeline.temperatureMix(d, 100).select("source", "rate").distinct()
      .as[(String, Double)].collect().toMap
    // rate_small/rate_big = (w_s/c_s)/(w_b/c_b) = sqrt(c_b/c_s) = 3.
    assert(math.abs(rates("small") / rates("big") - 3.0) < 1e-6,
      s"sqrt temperature ratio off: $rates")
    // Determinism of the SELECTION, not just its size: two independently
    // built plans must keep the exact same ids (a seed-based sampler
    // would keep different rows with a possibly-equal count).
    def kept() = Pipeline.temperatureMix(d, 100).select("doc_id")
      .as[Long].collect().toSet
    val k1 = kept()
    assert(k1.nonEmpty && k1 === kept())
    // Annotate-and-keep: input columns survive.
    assert(Pipeline.temperatureMix(d, 100).columns.toSet === Set("source", "doc_id", "rate"))
  }

  test("annClusters: pairs share clusters transitively, min id canonical, full coverage") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val pairs = Similarity.annPairs(emb, 0.4).select("vec_a", "vec_b")
      .as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val labels = Similarity.annClusters(emb, 0.4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) => assert(labels(a) === labels(b)) }
    labels.groupBy(_._2).foreach { case (c, m) => assert(m.keys.min === c) }
    assert(labels.size.toLong === emb.count())
  }

  test("PPM decode: full header grammar — comments, arbitrary whitespace, exact raster") {
    import Multimodal.{RasterImage, decodePpm, encodePpm}
    // Hand-authored header with comments interleaved and mixed whitespace;
    // raster bytes deliberately include values that LOOK like whitespace
    // (0x0a, 0x20) to prove the parser switches to raw mode after the
    // single separator byte.
    val raster = Array[Byte](10, 32, 9, 0, -1, 127)
    val bytes = "P6 # c1\n# full comment line\n 2\t1 # dims\n255\n"
      .getBytes("US-ASCII") ++ raster
    val img = decodePpm(bytes)
    assert(img.width === 2 && img.height === 1 && img.maxval === 255)
    assert(img.rgb.toSeq === raster.toSeq)
    assert(img.pixel(0, 0) === ((10, 32, 9)))
    // Round trip through our own encoder (which emits a comment line).
    val rt = decodePpm(encodePpm(RasterImage(2, 1, 255, raster)))
    assert(rt.width === 2 && rt.rgb.toSeq === raster.toSeq)
    // After maxval's single separator, '#' is PIXEL data, not a comment
    // (raster bytes are arbitrary — the strict netpbm read).
    val hashRaster = Array[Byte]('#', 'x', 'y', 1, 2, 3)
    assert(decodePpm("P6 2 1 255 ".getBytes("US-ASCII") ++ hashRaster)
      .rgb.toSeq === hashRaster.toSeq)
    // Truncated raster and bad magic fail loudly, never half-decode.
    intercept[IllegalArgumentException](decodePpm(bytes.dropRight(1)))
    intercept[IllegalArgumentException](decodePpm("P5 2 1 255 ".getBytes("US-ASCII")))
    intercept[IllegalArgumentException](
      decodePpm("P6 2 1 65535 ".getBytes("US-ASCII") ++ new Array[Byte](12)))
    // Dimensions whose product overflows Int must fail the truncation
    // guard, not wrap it.
    intercept[IllegalArgumentException](
      decodePpm("P6 40000 40000 255 ".getBytes("US-ASCII") ++ new Array[Byte](64)))
  }

  test("x210 audio activity: planted silence/burst pattern segments exactly; " +
    "a flat clip is one full-length segment") {
    import Multimodal.{WavType, encodeWav}
    def clip(framePattern: Seq[Boolean]): Array[Byte] = {
      val samples = framePattern.flatMap { loud =>
        Seq.fill(8)(if (loud) 1000.toShort else 0.toShort)
      }.toArray
      encodeWav(8000, samples)
    }
    // loud, silent, loud, loud, silent, silent -> 2 bursts, longest 2.
    val burst = (1L, WavType, clip(Seq(true, false, true, true, false, false)))
    // Constant energy: every frame meets the mean -> one 4-frame segment.
    val flat = (2L, WavType, clip(Seq(true, true, true, true)))
    val media = Seq(burst, flat).toDF("doc_id", "media_type", "content")
    val r = Multimodal.audioActivity(spark, media).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) == 6L && r(1L).getLong(2) == 3L)
    assert(r(1L).getLong(3) == 2L, "two bursts")
    assert(r(1L).getLong(4) == 2L, "longest burst spans frames 2-3")
    assert(r(1L).getDouble(5) == 0.5)
    assert(r(2L).getLong(3) == 1L && r(2L).getLong(4) == 4L,
      "a flat clip is one segment covering every frame")
    // A clip shorter than the frame size has zero complete frames — it
    // must still be REPORTED (n_frames=0, ratio NULL), not silently
    // dropped from the output (round-10 advice; the synthetic corpus's
    // fixed 256-sample clips can never exercise this path).
    val tiny = (3L, WavType, encodeWav(8000, Array[Short](5, -5, 7)))
    val r2 = Multimodal.audioActivity(spark,
      Seq(burst, tiny).toDF("doc_id", "media_type", "content")).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r2.contains(3L), "sub-frame clip must not vanish from the report")
    assert(r2(3L).getLong(1) == 0L && r2(3L).getLong(2) == 0L &&
      r2(3L).getLong(3) == 0L && r2(3L).getLong(4) == 0L)
    assert(r2(3L).isNullAt(5), "active_ratio is NULL when there are no frames")
  }

  test("x209 dHash: brightness-shifted copies collide, different content " +
    "separates, and the bucket report keeps first") {
    import Multimodal.{RasterImage, dHash56, encodePpm}
    val rnd = new scala.util.Random(3)
    val base = Array.fill[Byte](8 * 8 * 3)((rnd.nextInt(200)).toByte)
    def shifted(off: Int) = RasterImage(8, 8, 255,
      base.map(b => ((b & 0xff) + off).toByte))
    val h0 = dHash56(shifted(0))
    // Exposure invariance: uniform +off moves every luma by exactly off.
    (1 to 55).foreach(off => assert(dHash56(shifted(off)) == h0,
      s"uniform +$off brightness must not change the perceptual hash"))
    // ...while the PPM bytes DO differ — the thing a content hash keys on.
    assert(!encodePpm(shifted(0)).sameElements(encodePpm(shifted(9))))
    // Different content lands elsewhere (reversed raster).
    assert(dHash56(RasterImage(8, 8, 255, base.reverse)) != h0)
    assert(h0 >= 0, "56-bit hash must stay positive in a BIGINT")
    // End-to-end bucket report over a planted corpus: 3 groups of
    // exposure-shifted copies -> 3 buckets, keep-first, n_dropped = n-1.
    import spark.implicits._
    val docs = (0L until 12L).toDF("doc_id")
    val media = Multimodal.syntheticNearDupImages(docs, groups = 3)
    val r = Multimodal.perceptualDedup(spark, media).collect()
    assert(r.length == 3, s"3 planted groups must give 3 buckets: ${r.length}")
    r.foreach { row =>
      assert(row.getLong(1) == 4L && row.getLong(3) == 3L)
      assert(row.getLong(2) < 3L, "keeper is the group's first doc id")
    }
  }

  test("x212 pigeonhole law: every hash pair within Hamming 3 is surfaced " +
    "by the 4x14-bit banding (recall 1 before the cap), none beyond it") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // 40 random 56-bit bases, each planting a partner at Hamming 1..3.
    val bases = Seq.fill(40)(rnd.nextLong() & ((1L << 56) - 1))
    val planted = bases.zipWithIndex.map { case (b, i) =>
      val k = i % 3 + 1
      var v = b
      rnd.shuffle((0 until 56).toList).take(k).foreach(bit => v ^= 1L << bit)
      (b, v, k)
    }
    val hashes = (bases ++ planted.map(_._2)).distinct.zipWithIndex
      .map { case (h, i) => (h, 1L, i.toLong) }
      .toDF("dhash", "n_images", "keeper_doc_id")
    val got = Multimodal.nearDupHashPairs(hashes, maxHamming = 3, bucketCap = 1000)
      .select("dhash_a", "dhash_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    planted.filter(p => p._1 != p._2).foreach { case (a, b, k) =>
      val key = (math.min(a, b), math.max(a, b))
      assert(got.contains(key), s"planted Hamming-$k pair $key missed — pigeonhole broken")
      assert(got(key) == java.lang.Long.bitCount(a ^ b).toLong)
    }
    // No pair beyond the ball, and the exact-verify filter really ran.
    got.foreach { case ((a, b), ham) =>
      assert(ham >= 1 && ham <= 3 && ham == java.lang.Long.bitCount(a ^ b).toLong)
    }
    // Cap teeth: cap 1 drops every bucket that could pair anything.
    assert(Multimodal.nearDupHashPairs(hashes, 3, bucketCap = 1).count() == 0)
    // Differential law vs brute force: on a fresh random hash set the
    // uncapped banded join must return EXACTLY the Hamming<=3 pairs a
    // quadratic scan finds — recall 1 by pigeonhole AND no extras
    // (planted fixtures can't rule out systematic misses/dupes; an
    // independent ground truth can).
    val rnd2 = new scala.util.Random(29)
    val pool = (Seq.fill(60)(rnd2.nextLong() & ((1L << 56) - 1)) ++
      bases.take(10) ++ bases.take(10).map(_ ^ 0x101L)).distinct // 10 planted Hamming-2 pairs among mostly-far randoms
    val poolDf = pool.zipWithIndex.map { case (h, i) => (h, 1L, i.toLong) }
      .toDF("dhash", "n_images", "keeper_doc_id")
    val brute = (for {
      a <- pool; b <- pool
      if a < b && java.lang.Long.bitCount(a ^ b) <= 3
    } yield (a, b)).toSet
    val banded = Multimodal.nearDupHashPairs(poolDf, 3, bucketCap = 10000)
      .select("dhash_a", "dhash_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"banded pairs diverge from brute-force truth: missing=${brute -- banded}, extra=${banded -- brute}")
  }

  test("x213 exact-substring removal: the first occurrence keeps its span, " +
    "later ones lose it; overlaps merge; a full duplicate cleans to zero") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      // doc 1 owns the span (globally first by (doc, pos) key).
      (1L, s"alpha beta $span gamma delta"),
      // doc 2 repeats it -> those 8 tokens are removed, the rest kept.
      (2L, s"epsilon $span zeta"),
      // doc 3 is a byte-identical copy of doc 2 -> EVERY 8-gram of doc 3
      // is a repeat, so it cleans to zero tokens (null hash).
      (3L, s"epsilon $span zeta"),
      // doc 4: unique text, nothing removed.
      (4L, "one two three four five six seven eight nine ten"),
      // doc 5: the span shifted by one token -> its two dup 8-grams
      // overlap doc 1's span occurrences... they mark overlapping spans
      // in doc 5 which must MERGE into one island.
      (5L, s"x $span y $span z"))
      .toDF("doc_id", "text")
    val r = graft.ext.Dedup.exactSubstringRemoval(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    // doc 1: nothing removed (it is first everywhere it duplicates).
    assert(r(1L).getLong(3) == 0L && r(1L).getLong(4) == 0L)
    // doc 2: exactly the 8 span tokens removed, 2 kept.
    assert(r(2L).getLong(1) == 10L && r(2L).getLong(2) == 2L &&
      r(2L).getLong(3) == 8L && r(2L).getLong(4) == 1L)
    // doc 3 (full duplicate of doc 2): all three of its 8-grams are
    // non-first, their overlapping spans MERGE into one island covering
    // all 10 tokens -> zero kept, NULL hash.
    assert(r(3L).getLong(2) == 0L && r(3L).getLong(3) == 10L &&
      r(3L).getLong(4) == 1L)
    assert(r(3L).isNullAt(5), "fully-removed doc has a NULL cleaned hash")
    // doc 4: untouched.
    assert(r(4L).getLong(3) == 0L && !r(4L).isNullAt(5))
    // doc 5: both span occurrences removed (doc 1 owns the span) as two
    // separate islands (the filler token between them breaks coverage);
    // the three filler tokens survive.
    assert(r(5L).getLong(2) == 3L && r(5L).getLong(3) == 16L &&
      r(5L).getLong(4) == 2L)
    // Determinism: the cleaned hash of doc 2 equals md5 of the joined
    // surviving tokens.
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = md.digest("epsilon zeta".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r(2L).getString(5) == want)
    // No edited doc is flagged skipped (the round-12 pass-through
    // column defaults false on the edit path).
    assert(r.values.forall(!_.getBoolean(6)))
  }

  test("x213 giant-doc contract: an over-limit doc passes through unedited " +
    "with skipped=true — never silently dropped (pinned at a tiny cap)") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"dup$i").mkString(" ")
    val docs = Seq(
      // 18 tokens >= the tiny cap of 12 -> pass-through, even though it
      // repeats doc 2's span and WOULD be edited under the default cap.
      (1L, s"$span $span pad1 pad2"),
      (2L, s"intro $span outro"),       // 10 tokens < cap -> edited path
      (3L, s"intro $span outro"))       // duplicate of doc 2 -> span removed
      .toDF("doc_id", "text")
    val r = graft.ext.Dedup.exactSubstringRemoval(docs, maxDocTokens = 12)
      .collect().map(x => x.getLong(0) -> x).toMap
    // Per-document accounting: every input doc appears exactly once.
    assert(r.keySet == Set(1L, 2L, 3L))
    // The giant: skipped, kept == before, zero removed/spans, NULL hash.
    assert(r(1L).getBoolean(6) && r(1L).getLong(1) == 18L &&
      r(1L).getLong(2) == 18L && r(1L).getLong(3) == 0L &&
      r(1L).getLong(4) == 0L && r(1L).isNullAt(5))
    // The giant still COUNTS as duplication evidence (round-12 review
    // fix): doc 1 is the global first owner of the span, so doc 2's
    // copy IS removed — exactly the Lee et al. semantics ("every
    // occurrence except the globally first") — even though doc 1
    // itself is never edited. Before the fix, giants' grams were
    // excluded and doc 2 would have kept its copy.
    assert(!r(2L).getBoolean(6) && r(2L).getLong(2) == 2L &&
      r(2L).getLong(3) == 8L && r(2L).getLong(4) == 1L)
    // doc 3 (full duplicate of doc 2) still cleans to zero: its three
    // 8-grams overlap-merge into one island over all 10 tokens.
    assert(!r(3L).getBoolean(6) && r(3L).getLong(3) == 10L &&
      r(3L).getLong(4) == 1L)
    // Default cap reproduces the pre-round-12 edit results for every
    // sub-limit doc (regression guard for the cap refactor).
    val dflt = graft.ext.Dedup.exactSubstringRemoval(docs)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(dflt.values.forall(!_.getBoolean(6)))
    assert(dflt(1L).getLong(3) > 0L, "under the default cap doc 1 is edited")
  }

  test("x212 end-to-end: a single-pixel luma bump is caught as a near-dup " +
    "pair (Hamming 1-2) that the exact x209 bucket cannot collapse") {
    import Multimodal.{RasterImage, dHash56, encodePpm, PpmType}
    import spark.implicits._
    // Base: luma ramps steeply except a flat pair at (x=0,y=0)-(x=1,y=0),
    // so bumping pixel (1,0) by +24 flips exactly that comparison (the
    // (1,0)-(2,0) comparison stays: luma(2,0) is far above both).
    def gray(v: Int) = Seq(v, v, v)
    val row0 = Seq(100, 100, 200, 40, 160, 60, 180, 80)
    val rest = (1 until 8).flatMap(y => (0 until 8).map(x => 30 + 20 * x))
    val base = (row0 ++ rest).flatMap(gray).map(_.toByte).toArray
    val bumped = base.clone()
    (3 until 6).foreach(i => bumped(i) = (bumped(i) + 24).toByte)
    val imgs = Seq(
      (0L, PpmType, encodePpm(RasterImage(8, 8, 255, base))),
      (1L, PpmType, encodePpm(RasterImage(8, 8, 255, bumped))),
      (2L, PpmType, encodePpm(RasterImage(8, 8, 255, base.reverse))))
      .toDF("doc_id", "media_type", "content")
    val hBase = dHash56(RasterImage(8, 8, 255, base))
    val hBump = dHash56(RasterImage(8, 8, 255, bumped))
    assert(java.lang.Long.bitCount(hBase ^ hBump) == 1,
      "fixture must differ in exactly the planted comparison bit")
    val r = Multimodal.perceptualNearDedup(spark, imgs).collect()
    assert(r.length == 1, s"exactly the planted near-dup pair: ${r.length}")
    assert(r(0).getLong(2) == 1L)
    assert(Set(r(0).getLong(5), r(0).getLong(6)) == Set(0L, 1L),
      "the pair links the base and bumped images' keepers")
  }

  test("BMP decode: bottom-up BGR rows with 4-byte padding normalize to top-left RGB") {
    import Multimodal.{RasterImage, decodeBmp, encodeBmp}
    // 3x2 image: rowSize 3*3=9 pads to 12 — padding is exercised.
    val rgb = Array.tabulate[Byte](3 * 2 * 3)(i => (i * 7 + 1).toByte)
    val img = RasterImage(3, 2, 255, rgb)
    val rt = decodeBmp(encodeBmp(img))
    assert(rt.width === 3 && rt.height === 2)
    assert(rt.rgb.toSeq === rgb.toSeq, "round-trip must undo BGR + bottom-up + padding")
    // Top-down variant (negative height) decodes to the same raster.
    val enc = encodeBmp(img)
    val topDown = enc.clone()
    // rows already bottom-up in enc; flip height sign and swap rows
    val rowSize = 12
    topDown(22) = (-2 & 0xff).toByte; topDown(23) = -1; topDown(24) = -1; topDown(25) = -1
    Array.copy(enc, 54, topDown, 54 + rowSize, rowSize)
    Array.copy(enc, 54 + rowSize, topDown, 54, rowSize)
    assert(decodeBmp(topDown).rgb.toSeq === rgb.toSeq)
    intercept[IllegalArgumentException](decodeBmp(enc.dropRight(1)))
    intercept[IllegalArgumentException](decodeBmp("BMnot-a-real-bmp-header".getBytes ++ new Array[Byte](54)))
    // Corrupt data offsets fail the named check, not a raw index error.
    val badOffset = enc.clone()
    badOffset(10) = -1; badOffset(11) = -1; badOffset(12) = -1; badOffset(13) = -1
    val e1 = intercept[IllegalArgumentException](decodeBmp(badOffset))
    assert(e1.getMessage.contains("data offset"))
  }

  test("image stats: PPM and BMP pipelines agree exactly (same pixels, two decoders)") {
    val d = docs(1L -> "a", 2L -> "b", 3L -> "c")
    def stats(fmt: String) =
      Multimodal.imageStats(spark, Multimodal.syntheticImages(d, fmt = fmt))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val ppm = stats(Multimodal.PpmType)
    val bmp = stats(Multimodal.BmpType)
    assert(ppm === bmp)
    // Channel sums are bounded by 255 * 64 pixels and hist covers all 64.
    ppm.foreach { r =>
      assert(r(1) === 8 && r(2) === 8 && r(3) === 255)
      assert(r(7).asInstanceOf[String].split(",").map(_.toLong).sum === 64L)
    }
    // extractFeatures takes the real-decode path for rasters: feature 0/1
    // are image dims, not byte length.
    val feats = Multimodal.extractFeatures(spark,
      Multimodal.syntheticImages(d, fmt = Multimodal.PpmType))
      .orderBy("doc_id").as[(Long, Seq[Double], Boolean)].collect()
    assert(feats.forall(f => f._2(0) === 8.0 && f._2(1) === 8.0 && f._2(3) === 255.0 && f._3))
  }

  test("trained PQ codebooks strictly reduce total reconstruction error vs pinned") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    def totalErr(codes: org.apache.spark.sql.DataFrame): Double =
      codes.agg(sum("sq_err")).head().getDouble(0)
    val pinned = totalErr(Similarity.pqCodes(emb))
    val trained = totalErr(Similarity.pqCodesTrained(emb))
    // Lloyd is monotone non-increasing in total squared error for fixed
    // assignment/update alternation; the 1e-6 snap can add at most ulp
    // slack. On real data the pinned (arbitrary-vector) codebooks should
    // lose by a wide margin — pin a real improvement, not just non-regression.
    assert(trained < pinned * 0.95,
      s"training barely helped: pinned=$pinned trained=$trained")
    // Codes stay in range for every (vector, subspace).
    val csv = Similarity.pqCodesTrained(emb).select("code_csv").as[String].collect()
    assert(csv.forall(_.split(',').forall(c =>
      c.toInt >= 0 && c.toInt < Similarity.PqCodebookSize)))
    assert(csv.forall(_.split(',').length === Similarity.PqSubspaces))
  }

  test("lmScore: sub-2-token docs carry NULL scores; repetitive text outscores rare text") {
    val d = docs(
      (1L, "the cat sat on the mat and the cat sat again"),
      (2L, "the cat sat on the mat and the cat sat again"),
      (3L, "zyx qwv plk mnb asd fgh jkl poi uyt rew"),
      (4L, "single"),
      (5L, ""))
    val r = graft.ext.TextAnalysis.lmScore(d).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1),
        Option(x.get(2)).map(_.asInstanceOf[Double])))
    // doc 4 has one token, doc 5 zero-ish — no bigram evidence → NULL.
    assert(r(3)._2 === 0L && r(3)._3.isEmpty)
    assert(r(4)._2 === 0L && r(4)._3.isEmpty)
    // Duplicated predictable text (docs 1/2 share every bigram) must
    // outscore the all-unique-bigram doc 3 under a corpus-trained LM.
    assert(r(0)._3.get > r(2)._3.get,
      s"repetitive ${r(0)._3} should beat rare ${r(2)._3}")
    // Identical docs score identically.
    assert(r(0)._3 === r(1)._3)
  }

  test("IVF-PQ: full probe covers the corpus deterministically; probing narrows candidates") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    // Full probe = every cell searched: exactly k deterministic rows per
    // query, no self-matches.
    val full = Similarity.ivfPqSearch(emb, Seq(0L, 1L), 5, nprobe = 16)
      .orderBy("qid", "rank")
      .select("qid", "neighbor_id").as[(Long, Long)].collect()
    assert(full.length === 10)
    assert(full.forall { case (q, n) => q != n })
    val again = Similarity.ivfPqSearch(emb, Seq(0L, 1L), 5, nprobe = 16)
      .orderBy("qid", "rank")
      .select("qid", "neighbor_id").as[(Long, Long)].collect()
    assert(full.toSeq === again.toSeq)
    // nprobe=1 candidates come from one cell only: each query's results
    // must be vectors assigned to its own top cell.
    val narrow = Similarity.ivfPqSearch(emb, Seq(0L), 5, nprobe = 1)
      .select("neighbor_id").as[Long].collect().toSet
    val assign = Similarity.ivfAssign(emb, 16)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    assert(narrow.map(assign).size === 1,
      s"nprobe=1 candidates span cells: ${narrow.map(assign)}")
    // PQ non-degeneracy: the residual codebook must actually rank within
    // a cell. A codebook drawn from the centroid set would be all-zero
    // residuals → adc_score constant per (qid, cluster) and ranking by
    // neighbor id. Require some probed cell to show >= 2 distinct scores.
    val inCell = Similarity.ivfPqSearch(emb, Seq(0L), 20, nprobe = 16)
      .select("neighbor_id", "adc_score").as[(Long, Double)].collect()
      .groupBy { case (n, _) => assign(n) }
      .map { case (_, rows) => rows.map(_._2).distinct.length }
    assert(inCell.exists(_ >= 2),
      "adc_score constant within every cell — degenerate PQ codebook")
  }

  test("prefixJaccardPairs is lossless vs brute force and includes the exact 3/5 boundary") {
    val d = docs(
      (1L, "alpha beta gamma delta"),     // J(1,2) = 3/5 exactly (boundary)
      (2L, "alpha beta gamma epsilon"),
      (3L, "alpha beta zeta eta"),        // J(1,3) = 2/6 — below
      (4L, "theta iota kappa lambda"),    // disjoint from 1-3
      (5L, "theta iota kappa lambda"))    // J(4,5) = 1
    val got = graft.ext.Dedup.prefixJaccardPairs(d)
      .select("doc_a", "doc_b", "inter", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    // Brute force over all pairs on the same distinct-token semantics.
    val toks = d.select(col("doc_id"),
        explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t"))
      .distinct().as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = (for {
      a <- toks.keys; b <- toks.keys if a < b
      inter = (toks(a) & toks(b)).size
      union = (toks(a) | toks(b)).size
      if 5 * inter >= 3 * union
    } yield (a, b, inter.toLong, inter.toDouble / union)).toSet
    assert(got === brute)
    // The boundary pair is present with jaccard exactly 0.6.
    assert(got.exists { case (a, b, _, j) => a == 1L && b == 2L && j == 0.6 })
  }

  test("weightedSample: heavy weights dominate, zero weights never sampled, draw is deterministic") {
    val d = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // Rows 1-20 carry 1000x the weight of rows 21-200.
    val weight = when(col("doc_id") <= 20, 100.0).otherwise(0.1)
    val picked = graft.ext.Pipeline.weightedSample(d, weight, 20)
      .select("doc_id").as[Long].collect().toSet
    // With a 1000:1 weight ratio the 20 heavy rows should nearly fill the
    // sample; demanding >= 15 keeps the bound loose enough to be a
    // property of the scheme, not of one hash draw.
    assert(picked.count(_ <= 20L) >= 15, s"heavy rows underrepresented: $picked")
    // Zero and negative weights are excluded outright.
    val z = graft.ext.Pipeline.weightedSample(
      d, when(col("doc_id") <= 100, 0.0).otherwise(1.0), 150)
      .select("doc_id").as[Long].collect()
    assert(z.forall(_ > 100L) && z.length === 100)
    // Same inputs, same draw.
    val again = graft.ext.Pipeline.weightedSample(d, weight, 20)
      .select("doc_id").as[Long].collect().toSet
    assert(picked === again)
  }

  test("ADC re-rank returns exactly the exact-score top-k of the ADC candidate set") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val k = 5; val r = 20
    val qids = (0L until 5L)
    val cand = Similarity.pqSearch(emb, qids, r)
      .select("qid", "neighbor_id").as[(Long, Long)].collect().groupBy(_._1)
    val vecs = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("emb"))
      .as[(Long, Seq[Double])].collect().toMap
    def dotp(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val got = Similarity.pqSearchReranked(emb, qids, k, r)
      .orderBy("qid", "rank")
      .select("qid", "neighbor_id").as[(Long, Long)].collect().groupBy(_._1)
    qids.foreach { q =>
      val expect = cand(q).map(_._2)
        .map(n => (n, dotp(vecs(q), vecs(n))))
        .sortBy { case (n, s) => (-s, n) }.take(k).map(_._1).toSeq
      assert(got(q).map(_._2).toSeq === expect, s"query $q re-rank mismatch")
    }
  }

  test("frequentTokens: exact counts above the strict threshold, nothing else") {
    // N=10 tokens: a×7, b×2, c×1. denom=2 → keep cnt·2 > 10, i.e. a only.
    val d = docs(1L -> "a a a a b", 2L -> "a a a b c")
    val r = graft.ext.Frequent.frequentTokens(d, 2)
      .select("tok", "cnt", "n_total").as[(String, Long, Long)].collect().toSeq
    assert(r === Seq(("a", 7L, 10L)))
    // denom=4 → cnt·4 > 10 → a(7) and… b has 2·4=8, c 4: still only a.
    val r4 = graft.ext.Frequent.frequentTokens(d, 4)
      .select("tok", "cnt").as[(String, Long)].collect().toSeq
    assert(r4 === Seq(("a", 7L)))
  }

  test("frequentTokens survives partitioning: Misra-Gries candidates are a superset") {
    // 40 distinct rare tokens + one hot token spread over many partitions
    // with only k=3 counters per partition — the hot token must still be
    // recovered with its EXACT count.
    val rows = (1L to 40L).map(i => (i, s"rare$i hot")) :+ (41L, "hot hot hot hot")
    val d = rows.toDF("doc_id", "text").repartition(8)
    val r = graft.ext.Frequent.frequentTokens(d, 3)
      .select("tok", "cnt").as[(String, Long)].collect().toSeq
    // N = 40·2 + 4 = 84; hot = 44; 44·3 > 84, every rare 3 ≤ 84.
    assert(r === Seq(("hot", 44L)))
  }

  test("editDistancePairs equals the brute-force join on a shifted fixture") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val t1 = "abcdefgh" * 3                       // 24 chars
    val t2 = "abcdefgh" + "abcdeXgh" + "abcdefgh" // 1 substitution
    val t3 = "Xbcdefgh" + "abcdefgh" + "abcdefgX" // 2 substitutions, outer segments
    val t4 = "zyxwvuts" * 3                       // far away
    val t5 = t1.drop(1) + "z"                     // 1 deletion + 1 insertion: shifts segments
    val fixture = Seq(1L -> t1, 2L -> t2, 3L -> t3, 4L -> t4, 5L -> t5)
    val expect = (for {
      (ia, a) <- fixture; (ib, b) <- fixture if ia < ib
      d = lev(a.take(24), b.take(24)) if d <= 2
    } yield (ia, ib, d.toLong)).sorted
    val got = Dedup.editDistancePairs(docs(fixture: _*), 24, 2)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === expect)
    assert(expect.contains((1L, 5L, 2L)), "fixture must exercise the shifted-probe path")
  }

  test("editDistancePairs skips keys shorter than keyLen and rejects bad params") {
    val r = Dedup.editDistancePairs(docs(1L -> "short", 2L -> ("abcdefgh" * 3)), 24, 2)
    assert(r.count() === 0)
    assertThrows[IllegalArgumentException] { Dedup.editDistancePairs(docs(), 25, 2) }
  }

  test("qualityGates: each rule trips independently, all-integer evidence") {
    val good = (1 to 24).map(i => if (i % 9 == 0) "the" else "word").mkString(" ")
    val tooShort = "the a word"
    val noStops = (1 to 24).map(_ => "word").mkString(" ")
    val longWords = (1 to 24).map(_ => "w" * 12).mkString(" ") + " the a"
    val symbols = (1 to 24).map(_ => "@@@@").mkString(" ") + " the a"
    val r = TextAnalysis.qualityGates(docs(
        1L -> good, 2L -> tooShort, 3L -> noStops, 4L -> longWords, 5L -> symbols))
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Boolean]("passes"))
    assert(!r(1).getAs[Boolean]("words_ok") && !r(1).getAs[Boolean]("passes"))
    assert(!r(2).getAs[Boolean]("stopword_ok") && r(2).getAs[Boolean]("words_ok"))
    assert(!r(3).getAs[Boolean]("mean_len_ok") && !r(3).getAs[Boolean]("passes"))
    assert(!r(4).getAs[Boolean]("symbol_ok") && !r(4).getAs[Boolean]("passes"))
    assert(r(0).getAs[Long]("n_words") === 24L)
  }

  test("WAV codec: round-trip through the RIFF grammar, odd-chunk pad honored") {
    val samples = Array[Short](0, 1, -1, 32767, -32768, 12345, -12345, 100)
    val bytes = Multimodal.encodeWav(8000, samples)
    val pcm = Multimodal.decodeWav(bytes)
    assert(pcm.sampleRate === 8000 && pcm.channels === 1 && pcm.bits === 16)
    assert(pcm.samples.toSeq === samples.toSeq)
    // The encoder emits an odd-size LIST chunk before data: a decoder
    // that forgets RIFF's even-padding rule lands mid-tag and fails.
    assert(new String(bytes, 36, 4, java.nio.charset.StandardCharsets.US_ASCII) === "LIST")
  }

  test("WAV decoder fails fast on non-PCM, truncation, and missing chunks") {
    val good = Multimodal.encodeWav(8000, Array[Short](1, 2, 3, 4))
    assertThrows[IllegalArgumentException] { Multimodal.decodeWav(good.take(40)) }
    assertThrows[IllegalArgumentException] { Multimodal.decodeWav("RIFFxxxxWAVE".getBytes) }
    val nonPcm = good.clone
    nonPcm(20) = 3 // fmt.audioFormat = IEEE float
    assertThrows[IllegalArgumentException] { Multimodal.decodeWav(nonPcm) }
    // Crafted chunk size near Int.MaxValue: pos + 8 + size wraps negative
    // in Int arithmetic, which would slip past the bound check and
    // allocate a ~2 GB sample array (OOM — fatal, escapes the NonFatal
    // quarantine) or index out of bounds. Must fail fast instead.
    val huge = good.clone
    val hugeSize = 0x7ffffff0
    var o = 0
    // encodeWav layout: the first chunk after WAVE is fmt at offset 12.
    // Walk to the data chunk and rewrite its declared size.
    o = 12
    while (new String(huge, o, 4, java.nio.charset.StandardCharsets.US_ASCII) != "data") {
      val sz = (huge(o + 4) & 0xff) | ((huge(o + 5) & 0xff) << 8) |
        ((huge(o + 6) & 0xff) << 16) | ((huge(o + 7) & 0xff) << 24)
      o += 8 + sz + (sz & 1)
    }
    huge(o + 4) = (hugeSize & 0xff).toByte
    huge(o + 5) = ((hugeSize >> 8) & 0xff).toByte
    huge(o + 6) = ((hugeSize >> 16) & 0xff).toByte
    huge(o + 7) = ((hugeSize >> 24) & 0xff).toByte
    assertThrows[IllegalArgumentException] { Multimodal.decodeWav(huge) }
  }

  test("audioStats recovers the generator arithmetic through the real decode") {
    val d = docs(7L -> "x")
    val r = Multimodal.audioStats(spark, Multimodal.syntheticWavs(d, blocks = 2))
      .collect().head
    // Recompute straight from the digests (the oracle's arithmetic).
    val md = java.security.MessageDigest.getInstance("MD5")
    val vals = (0 until 2).flatMap { b =>
      val dg = md.digest(s"wav_7_${b}".getBytes("US-ASCII"))
      (0 until 8).map(j => (((dg(2 * j) & 0xff) << 8) | (dg(2 * j + 1) & 0xff)).toShort.toLong)
    }
    assert(r.getAs[Long]("n_samples") === 16L)
    assert(r.getAs[Long]("sum_amp") === vals.sum)
    assert(r.getAs[Long]("sum_sq") === vals.map(v => v * v).sum)
    assert(r.getAs[Long]("peak") === vals.map(math.abs).max)
  }

  test("leakageSafeSplit: near-dup cluster members always share a split") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(1L -> t, 2L -> t, 3L -> (t + " extra"),
      4L -> "completely different content with nothing shared at all")
    val r = graft.ext.Pipeline.leakageSafeSplit(d, 0.3)
      .select("doc_id", "cluster", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(r.map(_._2).take(3).toSet.size === 1, "1,2,3 form one cluster")
    assert(r.map(_._3).take(3).toSet.size === 1, "cluster members share the split")
    assert(r(3)._2 === 4L, "unrelated doc is its own cluster")
    // Per-document trainSplit CAN disagree within the cluster's members —
    // the leakage leakageSafeSplit exists to rule out (u is drawn from
    // cluster, not doc, so equality here is structural, not lucky).
    val u = graft.ext.Pipeline.leakageSafeSplit(d, 0.3)
      .select("doc_id", "u").as[(Long, Double)].collect().toMap
    assert(u(1L) === u(2L) && u(2L) === u(3L))
  }

  test("gramNovelty: first doc owns shared grams; exact duplicate scores zero") {
    val t = "a b c d e f g h i" // 9 tokens → two 8-grams
    val r = TextAnalysis.gramNovelty(
        docs(1L -> t, 2L -> t, 3L -> "totally fresh words here beyond anything shared"), 8)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_novel", "novelty")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r(0) === ((1L, 2L, 2L, 1.0)), "min-id owner keeps everything")
    assert(r(1) === ((2L, 2L, 0L, 0.0)), "exact duplicate owns nothing")
    assert(r(2)._4 === 1.0, "unique doc fully novel")
    // Short doc: whole token sequence is its one gram.
    val short = TextAnalysis.gramNovelty(docs(9L -> "tiny doc"), 8).collect()
    assert(short.head.getAs[Long]("n_grams") === 1L)
  }

  test("minhashCalibration: exact duplicates land in the est=16 bucket at jaccard 1.0") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val r = graft.ext.Dedup.minhashCalibration(
        docs(1L -> t, 2L -> t, 3L -> "entirely disjoint vocabulary with zero overlap whatsoever"))
      .orderBy("est_matches")
      .select("est_matches", "n_pairs", "sum_jaccard_fp")
      .as[(Long, Long, Long)].collect().toSeq
    assert(r === Seq((16L, 1L, 1000000000L)),
      "one candidate pair, all 16 positions match, exact jaccard 1e9 fixed-point")
  }

  test("sortedNeighborhood pairs length-adjacent docs within a block, never across blocks") {
    val rows = Seq(
      (1L, "alpha beta gamma delta", "en", "web", 22L),
      (2L, "alpha beta gamma delta", "en", "web", 23L),   // adjacent to 1 → dup
      (3L, "alpha beta gamma delta", "en", "books", 22L), // same text, other block
      (4L, "unrelated words entirely different here", "en", "web", 40L))
    val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.sortedNeighborhoodPairs(d, w = 1, tNum = 1, tDen = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    // w=1: candidates are (1,2) and (2,4) in block web; only (1,2) passes
    // Jaccard ≥ 1/2. Doc 3 is identical text but in another block —
    // the blocking trade-off, pinned here.
    assert(r === Seq((1L, 2L)))
  }

  test("phraseSearch: overlapping occurrences, repeated-term phrases, offset discipline") {
    val rows = Seq(
      (1L, "a b a b a", "en", "web", 9L),     // "a b a" overlaps at 0 and 2
      (2L, "b a b", "en", "web", 5L),         // contains "a b" once at 1
      (3L, "a a a", "en", "web", 5L),         // repeated-term phrase "a a" at 0,1
      (4L, "b b b", "en", "web", 5L))         // no "a" at all
    val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.phraseSearch(d, Seq("a b a", "a a"))
      .orderBy("phrase", "doc_id")
      .select("phrase", "doc_id", "n_occurrences", "first_pos")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(r === Seq(
      ("a a", 3L, 2L, 0L),        // overlapping starts both count
      ("a b a", 1L, 2L, 0L)))     // starts 0 and 2; partial suffix at 4 rejected
  }

  test("hardNegatives excludes same-label neighbors even when they are nearest") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val hn = Similarity.hardNegatives(emb, 3)
      .select("vec_id", "anchor_label", "neg_id", "neg_label", "rank")
      .as[(Long, Int, Long, Int, Long)].collect()
    assert(hn.nonEmpty, "banded candidates must yield cross-label pairs")
    assert(hn.forall { case (_, al, _, nl, _) => al != nl },
      "every mined negative must carry a different label")
    // k-bounded per anchor, ranks contiguous from 1.
    hn.groupBy(_._1).foreach { case (v, rows) =>
      val ranks = rows.map(_._5).sorted.toSeq
      assert(ranks === (1L to ranks.length), s"anchor $v ranks $ranks")
      assert(ranks.length <= 3)
    }
    // The negatives are the top DIFFERENT-label candidates: for any anchor
    // also present in annTopK with a same-label best neighbor, that
    // neighbor must be absent here (label filter beats proximity).
    val sameLabelTop = Similarity.annTopK(emb, 1)
      .join(emb.select(col("vec_id"), col("label").as("al")), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
        Seq("neighbor_id"))
      .filter(col("al") === col("nl"))
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(sameLabelTop.nonEmpty, "fixture sanity: some nearest neighbor shares its label")
    val mined = hn.map(r => (r._1, r._3)).toSet
    sameLabelTop.foreach { case (v, n) =>
      assert(!mined.contains((v, n)), s"same-label nearest ($v,$n) leaked into negatives")
    }
  }

  test("hybridRrf: fused score is exactly the fixed-point reciprocal-rank sum") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val r = Similarity.hybridRrf(docs, emb, 0L to 2L, poolDepth = 5, k = 4)
      .select("qid", "rank", "rrf_fp", "lex_rank", "dense_rank")
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect()
    assert(r.nonEmpty)
    r.foreach { case (qid, rank, fp, lex, dense) =>
      val expected = lex.map(x => 1000000000000L / (60 + x)).getOrElse(0L) +
        dense.map(x => 1000000000000L / (60 + x)).getOrElse(0L)
      assert(fp === expected, s"q$qid rank $rank: rrf $fp != $expected")
      assert(lex.isDefined || dense.isDefined, "fused rows come from some pool")
      assert(rank >= 1 && rank <= 4)
    }
    // Fused ranks are descending in rrf_fp within each query.
    r.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._2).map(_._3).toSeq
      assert(byRank === byRank.sorted(Ordering[Long].reverse))
    }
  }

  test("batch mixing deals each source round-robin: every batch holds <= 1 doc per source") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val r = queries.Registry.queryMap("x155_batch_mixing")(spark, Sf)
      .groupBy("batch", "source").count()
      .agg(max("count")).as[Long].collect()(0)
    assert(r === 1L, "a (batch, source) cell held more than one doc")
  }

  test("vocabCoverageCurve is monotone in the cap and exact on a known fixture") {
    // Vocab: a×5, b×3, c×1, d×1 (10 tokens). Caps 1,2,3 -> 5/10, 8/10, 9/10.
    val d = Seq((1L, "a a a b b", "en"), (2L, "a a b c d", "en"))
      .toDF("doc_id", "text", "lang")
    val r = TextAnalysis.vocabCoverageCurve(d, Seq(1, 2, 3))
      .orderBy("vocab_cap")
      .select("vocab_cap", "covered_tokens", "total_tokens", "coverage")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r === Seq((1L, 5L, 10L, 0.5), (2L, 8L, 10L, 0.8), (3L, 9L, 10L, 0.9)))
  }

  test("rankerAgreement: exact pair accounting and tau bounded in [-1, 1]") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val r = Similarity.rankerAgreement(docs, emb, 0L to 4L, poolDepth = 50)
      .select("qid", "n_pairs", "concordant", "discordant", "kendall_tau")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(r.nonEmpty, "pool 50 must overlap on this corpus")
    r.foreach { case (q, n, c, d, tau) =>
      assert(c + d <= n, s"q$q pair accounting")
      assert(tau >= -1.0 && tau <= 1.0, s"q$q tau $tau")
      assert(tau === (c - d).toDouble / n, s"q$q tau must derive from exact counts")
    }
  }

  test("budgetSelect keeps the best-quality prefix that fits, per source") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val r = Pipeline.budgetSelect(docs, 500L)
      .select("source", "n_tokens", "q_fp", "cum_tokens", "kept")
      .as[(String, Long, Long, Long, Boolean)].collect()
    // Budget respected: kept rows' cumulative totals never exceed it.
    r.filter(_._5).foreach { case (s, _, _, cum, _) =>
      assert(cum <= 500L, s"$s kept beyond budget: $cum")
    }
    // Prefix property: within a source, no kept row ranks below a
    // dropped one (quality desc, doc_id asc ordering = cum asc).
    r.groupBy(_._1).foreach { case (src, rows) =>
      val ordered = rows.sortBy(_._4)
      val firstDrop = ordered.indexWhere(!_._5)
      if (firstDrop >= 0)
        assert(ordered.drop(firstDrop).forall(!_._5),
          s"$src kept a row ranked after its first drop")
    }
    assert(r.exists(_._5) && r.exists(!_._5), "budget must actually cut")
  }

  test("histogram quantile sketch: estimates stay within one bin width of exact") {
    val orders = spark.read.parquet(s"$Sf/orders.parquet")
    val r = graft.ops.HistogramSketch.quantiles(orders, "o_totalprice")
      .select("q", "abs_err", "bin_width", "within_one_bin")
      .as[(Double, Double, Double, Boolean)].collect()
    assert(r.length === 4)
    r.foreach { case (q, err, w, ok) =>
      assert(ok && err <= w, s"q=$q err=$err exceeds bin width $w")
    }
    // Mergeability: shard histograms summed == whole-table histogram is
    // what the grouped aggregate already proves; here pin the sketch's
    // scale contract instead — state is bins, not rows.
    // Degenerate input (constant column): hi == lo makes the raw bin
    // expression 0/0 = NaN; the guard must land everything in bin 0 so
    // the estimate IS the value (the grouped twin's documented
    // behavior) instead of riding Spark's NaN→int cast accident the
    // DuckDB twin errors on.
    val const = Seq.fill(7)(42.5).toDF("x")
    val c = graft.ops.HistogramSketch.quantiles(const, "x")
      .select("estimate", "exact", "within_one_bin")
      .as[(Double, Double, Boolean)].collect()
    assert(c.forall { case (est, ex, ok) => est === 42.5 && ex === 42.5 && ok })
  }

  test("stratifiedKFold: per-source fold sizes differ by at most one, assignment is stable") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val f = Pipeline.stratifiedKFold(docs, 5)
    val sizes = f.groupBy("source", "fold").count()
      .groupBy("source")
      .agg(max("count").as("mx"), min("count").as("mn"),
        countDistinct("fold").as("nf"))
      .as[(String, Long, Long, Long)].collect()
    sizes.foreach { case (src, mx, mn, nf) =>
      assert(mx - mn <= 1, s"$src folds unbalanced: max $mx min $mn")
      assert(nf === 5L, s"$src must touch all 5 folds")
    }
    // Deterministic: a rerun assigns identical folds.
    val again = Pipeline.stratifiedKFold(docs, 5)
    assert(f.exceptAll(again).count() === 0)
  }

  test("trainingTriplets: positives share the anchor's cluster, negatives never do") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val cl = Similarity.annClusters(emb, 0.4)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    val t = Similarity.trainingTriplets(emb, 0.4)
      .select("anchor", "positive", "pos_cos", "negative", "neg_cos")
      .as[(Long, Long, Double, Long, Double)].collect()
    assert(t.nonEmpty, "corpus has near-dup clusters; triplets must exist")
    t.foreach { case (a, p, pc, n, nc) =>
      assert(cl(a) === cl(p), s"positive $p must share anchor $a's cluster")
      assert(cl(a) !== cl(n), s"negative $n must NOT share anchor $a's cluster")
      assert(pc >= 0.4, s"positive pair is a near-dup witness, cos $pc")
      assert(a != p && a != n)
    }
    Similarity.clearCaches(spark)
  }

  test("mmrRerank trades relevance for diversity: the near-dup runner-up loses its slot") {
    // q = (1,0). a (rel .99) and b (rel .98) are near-identical; c (rel .6)
    // is dissimilar. Pure top-2 = {a, b}; MMR round 2 must pick c:
    // mmr_b = .5*.98 - .5*sim(a,b)=.982 < 0 while mmr_c = .5*.6 - .5*.524 > 0.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (10L, Array(0.99f, 0.1f), 0),
      (11L, Array(0.98f, 0.12f), 0),
      (12L, Array(0.6f, -0.7f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.mmrRerank(emb, Seq(0L), poolK = 3, k = 2)
      .orderBy("round").select("round", "doc_id").as[(Int, Long)].collect().toSeq
    assert(r === Seq((1, 10L), (2, 12L)), s"expected a then c, got $r")
    // Measured before the loop moved onto Ckpt.iterate: 16 jobs per call at
    // k = 2 (the round-2 state is the one checkpoint the loop runs), 6 at
    // k = 1 (no loop checkpoint). The pool and pair-similarity checkpoints
    // stay with the result; k >= 2 also keeps the final state.
    assert(jobsOf(Similarity.mmrRerank(emb, Seq(0L), poolK = 3, k = 2)) === 16)
    assert(jobsOf(Similarity.mmrRerank(emb, Seq(0L), poolK = 3, k = 1)) === 6)
    assert(persistedBy(Similarity.mmrRerank(emb, Seq(0L), poolK = 3, k = 2)).size === 3)
    assert(persistedBy(Similarity.mmrRerank(emb, Seq(0L), poolK = 3, k = 1)).size === 2)
  }

  test("mmrRerank: a failed round leaves only the pool checkpoints") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (10L, Array(0.99f, 0.1f), 0),
      (11L, Array(0.98f, 0.12f), 0),
      (12L, Array(0.6f, -0.7f), 0))
      .toDF("vec_id", "embedding", "label")
    // Round 3's frame fails to plan, after the round-2 state checkpointed.
    val boom = new RuntimeException("round 3 fails")
    val left = persistedBy {
      val e = intercept[RuntimeException](failingPlans(boom)(_.exists(_.expressions.exists(
          _.exists { case Alias(Literal(3, _), "round") => true; case _ => false }))) {
        Similarity.mmrRerank(emb, Seq(0L), poolK = 3, k = 3)
      })
      assert(e eq boom)
    }
    // The pool and pair-similarity checkpoints are bare one-shot
    // checkpoints, as on success; no round state is left.
    assert(left.size === 2, s"a failed call left RDDs $left persisted")
  }

  test("effectiveTokens: duplicates discount to one copy's worth, uniques keep full mass") {
    val t = "alpha beta gamma delta epsilon zeta eta theta " * 3 // 24 tokens
    val rows = Seq(
      (1L, t, "dup"), (2L, t, "dup"), (3L, t, "dup"),  // 3-clone cluster
      (4L, "totally different words here now", "uniq")) // singleton, 5 tokens
    val d = rows.toDF("doc_id", "text", "source")
    val r = Dedup.effectiveTokens(d, 0.3)
      .select("source", "n_docs", "raw_tokens", "effective_tokens")
      .as[(String, Long, Long, Double)].collect()
      .map(x => x._1 -> x).toMap
    val (_, nd, raw, eff) = r("dup")
    assert(nd === 3L && raw === 72L)
    assert(math.abs(eff - 24.0) < 1e-3, s"3 clones of 24 tokens -> 24 effective, got $eff")
    val (_, nu, rawU, effU) = r("uniq")
    assert(nu === 1L && rawU === 5L && effU === 5.0)
  }

  test("sourceFeatureMi: independent feature gives 0, deterministic feature gives H(X)") {
    import org.apache.spark.sql.functions.lit
    // Independent: both sources have identical length distributions -> MI 0.
    val indep = Seq(
      (1L, "x" * 50, "A"), (2L, "y" * 150, "A"),
      (3L, "z" * 50, "B"), (4L, "w" * 150, "B"))
      .toDF("doc_id", "text", "source")
    val r0 = TextAnalysis.sourceFeatureMi(indep)
      .select("mi_fp").as[Long].collect()
    assert(r0.forall(_ === 0L), s"independent feature must carry 0 MI, got ${r0.toSeq}")
    // Deterministic: length bucket identifies the source exactly ->
    // MI = H(source) = ln 2 for a 50/50 split; each source contributes
    // (1/2) ln 2 ~ 0.34657.
    val det = Seq(
      (1L, "x" * 50, "A"), (2L, "y" * 50, "A"),
      (3L, "z" * 150, "B"), (4L, "w" * 150, "B"))
      .toDF("doc_id", "text", "source")
    val r1 = TextAnalysis.sourceFeatureMi(det)
      .select("mi_part").as[Double].collect()
    r1.foreach(p => assert(math.abs(p - math.log(2) / 2) < 1e-6, s"part $p"))
  }

  test("covarianceIncremental equals the full recompute bit-for-bit") {
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    val full = Similarity.covarianceMatrix(emb)
    val inc = Similarity.covarianceIncremental(
      emb.filter(col("vec_id") % 3 =!= 0), emb.filter(col("vec_id") % 3 === 0))
    assert(inc.exceptAll(full).count() === 0)
    assert(full.exceptAll(inc).count() === 0)
    assert(inc.count() === 64L * 65 / 2)
  }

  test("pcaTopComponent converges to the dominant variance direction") {
    // Points on the line z = 10x: the top eigenvector is (1,10)/|.|, so
    // the renormalized component must put ~10x the weight on dim 2.
    val emb = Seq(
      (1L, Array(0.1f, 1.0f), 0), (2L, Array(-0.1f, -1.0f), 0),
      (3L, Array(0.2f, 2.0f), 0), (4L, Array(-0.2f, -2.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val v = Similarity.pcaTopComponent(emb, iterations = 3, dim = 2)
      .orderBy("dim").select("component").as[Double].collect()
    assert(math.abs(math.abs(v(1)) - 1.0) < 2e-6, s"dominant coord ${v(1)}")
    assert(math.abs(v(0) / v(1) - 0.1) < 1e-3, s"ratio ${v(0) / v(1)}")
    assert(v(0).sign === v(1).sign, "coords must agree in sign on this line")
  }

  test("countMinSketch never under-counts and is exact without collisions") {
    // Two tokens, tiny corpus: with width 256 the chance of engineering a
    // collision-free fixture is trivial — estimates must equal truth.
    val d = Seq((1L, "alpha alpha alpha beta"), (2L, "alpha beta beta"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.countMinSketch(d, minCount = 1)
      .select("tok", "true_count", "cms_estimate", "overestimate")
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(r("alpha") === ((4L, 4L, 0L)))
    assert(r("beta") === ((3L, 3L, 0L)))
    // On the real corpus: one-sided error (the CMS guarantee).
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val full = TextAnalysis.countMinSketch(docs)
      .select("overestimate").as[Long].collect()
    assert(full.nonEmpty)
    assert(full.forall(_ >= 0), "count-min must never under-count")
  }

  test("distributionMatch: acceptance rates reshape sources toward the reference histogram") {
    val short = "x" * 50   // bucket 0
    val long_ = "y" * 150  // bucket 1
    // ref: 2+2 (50/50); skewed: 8 short + 2 long (80/20).
    val rows = (1 to 2).map(i => (i.toLong, short, "ref")) ++
      (3 to 4).map(i => (i.toLong, long_, "ref")) ++
      (5 to 12).map(i => (i.toLong, short, "skew")) ++
      (13 to 14).map(i => (i.toLong, long_, "skew"))
    val d = rows.toDF("doc_id", "text", "source")
    val r = Pipeline.distributionMatch(d, "ref")
      .select("source", "len_bucket", "n_docs", "accept_rate", "n_kept")
      .as[(String, Long, Long, Double, Long)].collect()
      .map(t => (t._1, t._2) -> t).toMap
    // Reference keeps itself: rate exactly 1.
    assert(r(("ref", 0L))._4 === 1.0 && r(("ref", 1L))._4 === 1.0)
    // Over-represented bucket is downsampled at p_ref/p_src = .5/.8.
    assert(math.abs(r(("skew", 0L))._4 - 0.625) < 1e-12)
    // Under-represented bucket caps at 1 (resampling never upsamples).
    assert(r(("skew", 1L))._4 === 1.0)
    r.values.foreach { case (_, _, n, _, kept) => assert(kept <= n) }
    // A misnamed reference must FAIL LOUDLY, not silently keep
    // everything (0/0 = NaN and least(1.0, NaN) = 1.0 would report a
    // clean-looking accept_rate of 1.0 for every bucket).
    val err = intercept[Exception] {
      Pipeline.distributionMatch(d, "no_such_source").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(err).exists(_.contains("no_such_source")),
      s"expected the reference-source name in the failure, got: $err")
  }

  test("covarianceMatrix matches the hand-computed population covariance") {
    val emb = Seq((1L, Array(1.0f, 2.0f), 0), (2L, Array(3.0f, 6.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.covarianceMatrix(emb, dim = 2)
      .orderBy("dim_i", "dim_j")
      .select("dim_i", "dim_j", "n", "cov")
      .as[(Int, Int, Long, Double)].collect().toSeq
    // x=(1,3): var 1; y=(2,6): var 4; cov(x,y)=2. Fixed-point grid is
    // exact for these values, so equality is exact.
    assert(r === Seq((1, 1, 2L, 1.0), (1, 2, 2L, 2.0), (2, 2, 2L, 4.0)))
  }

  test("bpe: greedy left-to-right merges, self-pair runs, merged-symbol re-pairing") {
    // Word counts: "abab" x3, "aaa" x2, "ab" x1 (plus "zq" x1 noise).
    // Round 1 pairs: (a,b)=3*2+1=7, (b,a)=3, (a,a)=2*2=4, (z,q)=1 → merge (a,b).
    //   abab→[ab,ab], aaa→[a,a,a], ab→[ab].
    // Round 2 pairs: (ab,ab)=3, (a,a)=4 → merge (a,a): aaa→[aa,a]
    //   (GREEDY: leftmost pairing wins the odd run, never [a,aa]).
    // Round 3 pairs: (ab,ab)=3, (aa,a)=2 → merge (ab,ab): abab→[abab].
    val text = (Seq.fill(3)("abab") ++ Seq.fill(2)("aaa") ++ Seq("ab", "zq"))
      .mkString(" ")
    val d = Seq((1L, text, "en", "web", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (merges, vocab) = TextAnalysis.bpe(d, rounds = 3)
    val m = merges.orderBy("round")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(m === Seq((1, "a", "b", 7L), (2, "a", "a", 4L), (3, "ab", "ab", 3L)))
    val v = vocab.orderBy("symbol")
      .as[(String, Long, Long)].collect().toSeq
    // abab→[abab] x3; aaa→[aa,a] x2; ab→[ab]; zq→[z,q]
    assert(v === Seq(("a", 2L, 1L), ("aa", 2L, 1L), ("ab", 1L, 1L),
      ("abab", 3L, 1L), ("q", 1L, 1L), ("z", 1L, 1L)))
    TextAnalysis.clearCaches(spark)
  }

  test("bpe: deterministic tie-break takes the lexicographically smallest pair") {
    // "ba" x2 and "cd" x2: both pairs have count 2 → (b,a) < (c,d) wins.
    val d = Seq((1L, "ba ba cd cd", "en", "web", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val (merges, _) = TextAnalysis.bpe(d, rounds = 1)
    val m = merges.as[(Int, String, String, Long)].collect().toSeq
    assert(m === Seq((1, "b", "a", 2L)))
    TextAnalysis.clearCaches(spark)
  }
}
