package graft

import graft.ext.Similarity
import graft.ops.{Ckpt, Graph, PageRank}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hand-built-graph contracts for the triangle census and HITS — the
  * real-data path is oracle-gated (x81/x82); these pin the algebra. */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  test("triangle census: triangle + pendant + isolated vertex") {
    // 1-2-3 triangle, 4 pendant off 3, 5 isolated.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val verts = (1L to 5L).toDF("id")
    val r = Graph.triangleStats(edges, verts).orderBy("id")
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        Option(x.get(3)).map(_.asInstanceOf[Double])))
    assert(r(0) === ((1L, 2L, 1L, Some(1.0))))
    assert(r(1) === ((2L, 2L, 1L, Some(1.0))))
    // Vertex 3: degree 3, one triangle among its 3 possible neighbor
    // pairs → coefficient 1/3.
    assert(r(2)._1 === 3L && r(2)._2 === 3L && r(2)._3 === 1L)
    assert(math.abs(r(2)._4.get - 1.0 / 3.0) < 1e-15)
    // Pendant: degree 1 → NULL coefficient, not 0.
    assert(r(3) === ((4L, 1L, 0L, None)))
    // Isolated: degree 0, NULL coefficient.
    assert(r(4) === ((5L, 0L, 0L, None)))
  }

  test("triangle census counts each triangle once (K4 has 4 triangles, 3 per vertex)") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val verts = (1L to 4L).toDF("id")
    val r = Graph.triangleStats(edges, verts)
    assert(r.agg(sum("triangles")).head().getLong(0) === 12L) // 4 triangles × 3 vertices
    assert(r.select("clustering_coeff").as[Double].collect().forall(_ === 1.0))
  }

  test("degree orientation bounds per-pivot wedges on a hub graph; dirty edges normalize") {
    // Star: hub 100 joined to 1..50, plus edge (1,2) closing ONE triangle.
    // Dirty input: a reversed duplicate (100,1) and an exact duplicate
    // (1,100) — neither may inflate degrees or counts.
    val star = (1L to 50L).map(i => (i, 100L))
    val edges = (star ++ Seq((1L, 2L), (100L, 1L), (1L, 100L))).toDF("src", "dst")
    val verts = ((1L to 50L) :+ 100L).toDF("id")
    val r = Graph.triangleStats(edges, verts).orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r.last === ((100L, 50L, 1L)), "hub: degree 50 despite duplicates, 1 triangle")
    assert(r.head === ((1L, 2L, 1L)) && r(1) === ((2L, 2L, 1L)))
    assert(r.map(_._3).sum === 3L, "exactly one triangle, counted at 3 vertices")
    // The orientation itself: the hub has the maximal (degree, id) rank,
    // so every incident edge points INTO it — the raw-degree-50 vertex
    // pivots ZERO wedges, and no pivot exceeds out-degree 2 (the O(√m)
    // bound that keeps the wedge join skew-safe on power-law graphs).
    val e = edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = e.select(col("u").as("id")).union(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val o = Graph.orientByDegree(e, deg)
    assert(o.filter(col("src") === 100L).count() === 0L, "hub must never pivot")
    val maxOut = o.groupBy("src").count().agg(max("count")).head().getLong(0)
    assert(maxOut <= 2L, s"oriented out-degree should be tiny, got $maxOut")
  }

  test("HITS: star authorities and hubs land where Kleinberg says") {
    // 1,2,3 all point at 4; 5 isolated.
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val verts = (1L to 5L).toDF("id")
    val r = Graph.hits(edges, verts, 2).orderBy("id")
      .as[(Long, Long, Long)].collect()
    val base = 1000000L
    // 4 is the unique authority (normalized to base), never a hub;
    // 1-3 are the (equal) hubs; 5 is nothing.
    assert(r(3) === ((4L, 0L, base)))
    assert(Seq(r(0), r(1), r(2)).forall { case (_, h, a) => h === base && a === 0L })
    assert(r(4) === ((5L, 0L, 0L)))
    // 22 jobs per call; 23 before HITS moved onto Ckpt.iterate. The final
    // state carries both scores, so the output no longer joins the hub and
    // auth states (that join's one job is the difference). The output
    // checkpoint is the one RDD a call leaves persisted, as before.
    assert(jobsOf(Graph.hits(edges, verts, 2)) === 22)
    assert(persistedBy(Graph.hits(edges, verts, 2)).size === 1)
  }

  test("HITS: a failing call leaves no persisted RDD, its edge cache included") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    // The second half-round fails to plan: the edge cache and the first
    // half-round's state are live by then.
    val boom = new RuntimeException("half-round 2 fails")
    val left = persistedBy {
      val e = intercept[RuntimeException](failingPlans(boom)(p =>
          p.exists(_.isInstanceOf[InMemoryRelation]) && p.exists(_.isInstanceOf[LogicalRDD])) {
        Graph.hits(edges, (1L to 5L).toDF("id"), 2)
      })
      assert(e eq boom)
    }
    assert(left.isEmpty, s"a failed HITS call left RDDs $left persisted")
  }

  test("assortativity: star is perfectly disassortative, regular graph degenerates to NULL") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val s = Graph.assortativity(star).head()
    assert(s.getLong(0) === 6L)           // 3 undirected edges, both directions
    assert(s.getDouble(4) === -1.0)       // hub-leaf only: r = -1 exactly
    val triangle = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val t = Graph.assortativity(triangle).head()
    assert(t.isNullAt(4), "zero degree variance must be NULL, not NaN/0")
    // Dirty edges (duplicate + reversed) do not change the answer.
    val dirty = star.union(Seq((1L, 0L), (0L, 2L)).toDF("src", "dst"))
    assert(Graph.assortativity(dirty).head().getDouble(4) === -1.0)
    // Hub-heavy envelope: a 50k-leaf star puts m·sxx ≈ 2d⁴ ≈ 1.25e19
    // past Long.MaxValue — BIGINT products would die under ANSI
    // arithmetic right on the hub-spoke graphs the operator describes.
    // The decimal(38,0) product path must return the exact −1 instead.
    val bigStar = spark.range(1, 50001)
      .select(lit(0L).as("src"), col("id").as("dst"))
    val b = Graph.assortativity(bigStar).head()
    assert(b.getLong(0) === 100000L)
    assert(b.getDouble(4) === -1.0,
      s"hub-heavy star must survive the product envelope, got ${b.getDouble(4)}")
  }

  test("label propagation: min id within r hops, isolated vertices keep their own label") {
    // Path 1-2-3-4-5-6-7 plus isolated 9: after 3 rounds each vertex
    // holds the minimum id within 3 hops.
    val edges = (1L to 6L).map(i => (i, i + 1)).toDF("src", "dst")
    val verts = ((1L to 7L) :+ 9L).toDF("id")
    val r = Graph.labelPropagation(edges, verts, 3).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(r === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 3L, 7L -> 4L, 9L -> 9L))
    // One round = direct neighbors only.
    val r1 = Graph.labelPropagation(edges, verts, 1).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(r1 === Seq(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> 4L, 6L -> 5L, 7L -> 6L, 9L -> 9L))
  }

  test("HITS is deterministic and guards overflow") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val verts = (1L to 3L).toDF("id")
    val a = Graph.hits(edges, verts, 3).orderBy("id").as[(Long, Long, Long)].collect()
    val b = Graph.hits(edges, verts, 3).orderBy("id").as[(Long, Long, Long)].collect()
    assert(a.toSeq === b.toSeq)
    assertThrows[IllegalArgumentException] {
      Graph.hits(edges, verts, 1, base = Long.MaxValue / 2)
    }
  }

  test("kcorePeel: pendant chain peels off round by round, core survives") {
    // Triangle 1-2-3 with a chain 3-4-5: round 1 drops 5 (degree 1),
    // round 2 drops 4 (its degree fell to 1), round 3 is stable.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val r = Graph.kcorePeel(edges, k = 2, rounds = 3).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(r === Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("kcorePeel canonicalizes dirty edges and respects the round bound") {
    // Same graph with a reversed duplicate; 1 round only drops vertex 5
    // but keeps 4 (its degree was 2 when the round was measured), so the
    // bounded peel is an over-approximation that includes 4 at degree 1.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val r = Graph.kcorePeel(edges, k = 2, rounds = 1).orderBy("id")
      .as[(Long, Long)].collect().toSeq
    assert(r === Seq((1L, 2L), (2L, 2L), (3L, 3L), (4L, 1L)))
  }

  test("bfsDistances: exact hop counts, round bound, multi-source min") {
    // Path 1-2-3-4-5 (symmetric edges).
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val d2 = Graph.bfsDistances(edges, Seq(1L), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(d2 === Map(1L -> 0L, 2L -> 1L, 3L -> 2L), s"got $d2")
    // Two seeds: every vertex takes the NEAREST seed's distance.
    val dm = Graph.bfsDistances(edges, Seq(1L, 5L), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(dm === Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L), s"got $dm")
    // Enough rounds reaches everything exactly once at true distance.
    val d4 = Graph.bfsDistances(edges, Seq(1L), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(d4 === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("iterative ops exit early at the fixed point, bit-identical to the fixed-round run") {
    // Small-radius graph: triangle 1-2-3 + pendant 3-4, diameter 2 —
    // every op converges long before 12 requested rounds.
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val edges = und.toDF("src", "dst")
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val verts = (1L to 4L).toDF("id")

    // Jobs per call, measured before the loops moved onto Ckpt.iterate:
    // 15 (label propagation), 8 (k-core), 10 (BFS). One checkpoint job
    // per round plus the map-stage jobs AQE submits for its joins.
    lazy val lpRun = Graph.labelPropagationWithRounds(edges, verts, 12)
    lazy val kcRun = Graph.kcorePeelWithRounds(edges, 2, 12)
    lazy val bfsRun = Graph.bfsDistancesWithRounds(sym, Seq(1L), 12)
    assert(jobsOf(lpRun) === 15)
    assert(jobsOf(kcRun) === 8)
    assert(jobsOf(bfsRun) === 10)

    val (lp, lpRounds) = lpRun
    assert(lpRounds < 12, s"label propagation must exit early, ran $lpRounds")
    assert(lp.orderBy("id").as[(Long, Long)].collect().toSeq ===
      Graph.labelPropagation(edges, verts, 2).orderBy("id")
        .as[(Long, Long)].collect().toSeq,
      "early-exit labels must equal the fixed-round fixed point")

    val (kc, kcRounds) = kcRun
    assert(kcRounds < 12, s"k-core peel must exit early, ran $kcRounds")
    assert(kc.orderBy("id").as[(Long, Long)].collect().toSeq ===
      Graph.kcorePeel(edges, 2, 3).orderBy("id").as[(Long, Long)].collect().toSeq)

    val (bfs, bfsRounds) = bfsRun
    assert(bfsRounds < 12, s"BFS must exit early, ran $bfsRounds")
    assert(bfs.orderBy("v").as[(Long, Long)].collect().toSeq ===
      Graph.bfsDistances(sym, Seq(1L), 4).orderBy("v")
        .as[(Long, Long)].collect().toSeq)

    // A graph still changing at the bound must run ALL requested rounds:
    // a 6-path's min label needs 5 rounds to cover the diameter.
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val pverts = (1L to 6L).toDF("id")
    val (_, full) = Graph.labelPropagationWithRounds(path, pverts, 3)
    assert(full === 3, s"non-converged run must use every round, ran $full")
  }

  test("iterative loops keep only the final state's blocks") {
    // Counts measured before the loops moved onto Ckpt.iterate: the final
    // loop state backs the result (label propagation, k-core, BFS); the
    // output checkpoint replaces it (conserving PageRank); pca keeps its
    // matrix checkpoint, the final iterate and covSums' moment table.
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val edges = und.toDF("src", "dst")
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val verts = (1L to 4L).toDF("id")
    assert(persistedBy(Graph.labelPropagation(edges, verts, 12)).size === 1)
    assert(persistedBy(Graph.kcorePeel(edges, 2, 12)).size === 1)
    assert(persistedBy(Graph.bfsDistances(sym, Seq(1L), 12)).size === 1)
    val pe = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
    assert(persistedBy(PageRank.pagerankConserving(pe, (0L to 5L).toDF("id"), 3)).size === 1)
    val emb = Seq(
      (1L, Array(0.1f, 1.0f), 0), (2L, Array(-0.1f, -1.0f), 0),
      (3L, Array(0.2f, 2.0f), 0), (4L, Array(-0.2f, -2.0f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(persistedBy(Similarity.pcaTopComponent(emb, iterations = 3, dim = 2)).size === 3)
    // The empty-vertex guard fails inside the first step and frees both
    // the initial state and the symmetric edge cache.
    val left = persistedBy {
      val e = intercept[IllegalArgumentException](
        Graph.labelPropagation(edges, Seq.empty[Long].toDF("id"), 3))
      assert(e.getMessage.contains("labelPropagation: vertices is empty"))
    }
    assert(left.isEmpty, s"empty-vertex failure left RDDs $left persisted")
    // An edge set failing inside conserving PageRank's scoped edge
    // checkpoint leaves nothing either.
    val bad = pe.select(
      coalesce(assert_true(col("src") =!= 3L).cast("long"), col("src")).as("src"), col("dst"))
    val leftPr = persistedBy(intercept[Exception](
      PageRank.pagerankConserving(bad, (0L to 5L).toDF("id"), 3)))
    assert(leftPr.isEmpty, s"a failed PageRank call left RDDs $leftPr persisted")
  }

  test("Ckpt.iterate releases the live state and rethrows when a step fails") {
    val boom = new IllegalStateException("step 2 fails")
    var steps = 0
    val left = persistedBy {
      val e = intercept[IllegalStateException](
        Ckpt.iterate((1L to 4L).toDF("id"), Seq(count(lit(1)).as("n")), 5) { (s, _, _) =>
          steps += 1
          if (steps == 2) throw boom
          s.select((col("id") + 1).as("id"))
        })
      assert(e eq boom, "the step's own exception must surface")
    }
    assert(steps === 2)
    assert(left.isEmpty, s"a failed loop left RDDs $left persisted")
    // Without a failure the same loop keeps exactly its final state and
    // reports it with its probe values.
    var r: Ckpt.Rounds = null
    val kept = persistedBy {
      r = Ckpt.iterate((1L to 4L).toDF("id"), Seq(count(lit(1)).as("n")), 5,
        (_, now) => now("n") == 3L) { (s, _, _) => s.filter(col("id") > 1) }
    }
    assert(r.rounds === 1 && r.probes("n") === 3L && r.state.count() === 3L)
    assert(kept.size === 1)
  }

  test("Ckpt.iterate frees a round whose own checkpoint job fails") {
    // Round 2's frame fails on the executors, inside its checkpoint job:
    // its blocks and the live round-1 state are freed, probed or not.
    for (probes <- Seq(Seq(count(lit(1)).as("n")), Nil)) {
      val left = persistedBy {
        intercept[Exception](Ckpt.iterate((1L to 4L).toDF("id"), probes, 5) { (s, _, round) =>
          if (round < 2) s.select((col("id") + 1).as("id"))
          else s.select(
            coalesce(assert_true(col("id") < 0L).cast("long"), col("id")).as("id"))
        })
      }
      assert(left.isEmpty, s"probes $probes: a failed round left RDDs $left persisted")
    }
  }

  /** Runs `body`, which registers a cached reader of a tracked checkpoint
    * and throws `boom`; asserts that `boom` surfaces with the refused
    * release attached as suppressed, then frees the refused blocks. */
  private def assertReleaseSuppressed(boom: Exception)(
      body: (DataFrame => Nothing) => Any): Unit = {
    var held: DataFrame = null
    def registerAndThrow(s: DataFrame): Nothing = {
      held = Ckpt.registerCached(s, "GraphSpec.reader")
      throw boom
    }
    val left = persistedBy {
      val e = intercept[Exception](body(registerAndThrow))
      assert(e eq boom, "the failure's own exception must surface")
      assert(e.getSuppressed.exists {
        case t: IllegalStateException => t.getMessage.contains("GraphSpec.reader")
        case _ => false
      }, s"the refused release must ride along: ${e.getSuppressed.toSeq}")
    }
    Ckpt.unregisterCached(held, "GraphSpec.reader")
    assert(left.size === 1, s"only the refused state may stay: $left")
    left.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist())
  }

  test("a failed round or scope surfaces its own exception, not a refused release") {
    assertReleaseSuppressed(new RuntimeException("boom in a round")) { fail =>
      Ckpt.iterate((1L to 4L).toDF("id"), Nil, 3)((s, _, _) => fail(s))
    }
    assertReleaseSuppressed(new RuntimeException("boom in a scope")) { fail =>
      Ckpt.scoped((1L to 4L).toDF("id"))(fail)
    }
  }

  test("Ckpt.scoped frees its checkpoint after the body, and when the body fails") {
    var n = 0L
    val kept = persistedBy { n = Ckpt.scoped((1L to 4L).toDF("id"))(_.count()) }
    assert(n === 4L)
    assert(kept.isEmpty, s"a finished scope left RDDs $kept persisted")
    val boom = new IllegalStateException("body fails")
    val left = persistedBy {
      val e = intercept[IllegalStateException](
        Ckpt.scoped((1L to 4L).toDF("id")) { ck => ck.count(); throw boom })
      assert(e eq boom)
    }
    assert(left.isEmpty, s"a failed scope left RDDs $left persisted")
  }
}
