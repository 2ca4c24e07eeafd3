package graft.queries

import graft.io.Tables
import org.apache.spark.sql.functions._

/** Round-17 batch: the changelog → repair symmetry closed (round-16
  * verdict residual #4), and the reconciliation family extended DOWN
  * to the schema layer. x246 classified the divergence; x248 makes the
  * classification EXECUTABLE: `Reconcile.changelog` carries the
  * reference side's new row images alongside each verdict, and
  * `Reconcile.applyChangelog` drives the Upsert MERGE shape from them
  * (deletes drop their key's row, updates replace the payload, inserts
  * add theirs — broadcast anti-join + union, one corpus scan, no
  * window). The gate replays the x239/x240/x246 corrupted-copy
  * scenario end-to-end: classify, apply, re-fingerprint — every bucket
  * must verdict green against the reference, so a wrong verdict, a
  * missing image, or a mangled apply all fail the single output row.
  * x249/x250 add the check a migration runs BEFORE any row
  * fingerprint: both engines project the same parquet metadata onto
  * one canonical type vocabulary (`SchemaParity`), and schema drift
  * classifies as a column-grain changelog (missing/extra/retyped/
  * moved) — pure metadata operators whose plans contain zero data
  * scans (PlanSpec-pinned).
  *
  * x251–x253 add the INCREMENTAL dedup family — the production
  * daily-ingest shapes, where the corpus participates only through a
  * persisted index and is never re-paired with itself: x251 verdicts a
  * delta batch through the MinHash band index (provably equal to the
  * lshDedupPairs full recompute), x252 folds the batch into the
  * cluster-label table via a contracted component graph (the
  * corpus-wide label loop never re-runs), and x253 is the
  * embedding-space twin through the LSH cell index (x174's
  * full-recompute maintained). One verdict policy across the family:
  * corpus canon wins, first occurrence wins within the batch, id
  * collisions raise in-plan.
  */
object Batch17 {

  /** The x43-convention salted-uniform corpus/delta split shared by the
    * x251/x252 oracles — ONE definition of which documents are "the
    * batch" (~25% delta), so the verdict and cluster twins can never
    * disagree about the split. Mirrors
    * `Pipeline.saltedUniform(doc_id, "incr|") < 0.25`. */
  private val SplitCte =
    """, split AS (
      |  SELECT doc_id,
      |         CAST(('0x' || substring(md5('incr|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |           / 4294967296.0 < 0.25 AS is_delta
      |  FROM documents
      |)""".stripMargin

  lazy val defs: Seq[QueryDef] = Seq(

    // Changelog roundtrip (Reconcile.changelog + applyChangelog): the
    // keyed twin of x244's multiset repair. The corrupted copy's
    // every-97th documents classify as updates carrying the original
    // text as the new image; applying the changelog to the corrupted
    // side must reproduce the reference exactly — re-fingerprinting
    // proves it bucket-by-bucket, cross-engine (the DuckDB twin
    // classifies, applies, and re-fingerprints the same way from the
    // same parquet). A user holding the x246 verdicts now has the
    // matching write path without recomputing the multiset diff.
    QueryDef(
      "x248_changelog_roundtrip",
      (s, dir) => {
        val keys = Seq("doc_id")
        val payload = Seq("source", "lang", "n_chars", "text")
        val all = keys ++ payload
        val d = Tables(s, dir).documents.select(all.map(col): _*)
        val corr = Batch15.corrupted(Tables(s, dir).documents)
          .select(all.map(col): _*)
        val cl = graft.ops.Reconcile.changelog(d, corr, keys, payload)
        val applied = graft.ops.Reconcile.applyChangelog(
          corr, cl, keys, payload)
        val verdict = graft.ops.Reconcile.checksumDiff(
          graft.ops.Reconcile.tableChecksum(d, all),
          graft.ops.Reconcile.tableChecksum(applied, all))
        val acts = cl.agg(
          coalesce(sum(when(col("verdict") === "insert", 1L)), lit(0L))
            .as("n_inserts"),
          coalesce(sum(when(col("verdict") === "delete", 1L)), lit(0L))
            .as("n_deletes"),
          coalesce(sum(when(col("verdict") === "update", 1L)), lit(0L))
            .as("n_updates"))
        val agg = verdict.agg(count(lit(1)).as("n_buckets"),
          coalesce(sum(when(col("bucket_match"), lit(1L)).otherwise(lit(0L))),
            lit(0L)).as("n_matched"))
        acts.crossJoin(broadcast(agg))
          .select(col("n_inserts"), col("n_deletes"), col("n_updates"),
            col("n_buckets"), col("n_matched"),
            (col("n_buckets") === col("n_matched")).as("applied_ok"))
      },
      Some(graft.ops.Reconcile.changelogRoundtripOracleSql(
        "documents", Batch15.CorruptedSql,
        Seq("doc_id"), Seq("source", "lang", "n_chars", "text")))),

    // Schema parity (SchemaParity.schemaTable): the check a migration
    // runs BEFORE any row fingerprint — both engines project the same
    // parquet metadata onto ONE canonical type vocabulary (int64 /
    // float64 / timestamp_ntz / array<float32> / ...), so agreement
    // here proves the engines structurally agree on what they are
    // about to fingerprint. Gate covers lineitem (DOUBLE + naive
    // TIMESTAMP — the two types with engine-specific renderings the
    // Reconcile canonicalizers exist for) and embeddings (a nested
    // ARRAY<FLOAT>, exercising the container recursion in both twins).
    QueryDef(
      "x249_schema_parity",
      (s, dir) => {
        val t = Tables(s, dir)
        graft.ops.SchemaParity.schemaTable(t.lineitem)
          .withColumn("tbl", lit("lineitem"))
          .unionByName(graft.ops.SchemaParity.schemaTable(t.embeddings)
            .withColumn("tbl", lit("embeddings")))
          .select(col("tbl"), col("ordinal"), col("col_name"),
            col("canonical_type"))
          .orderBy("tbl", "ordinal")
      },
      Some(
        s"""SELECT tbl, ordinal, col_name,
           |       ${graft.ops.SchemaParity.canonicalTypeSql("dt")}
           |         AS canonical_type
           |FROM (
           |  SELECT 'lineitem' AS tbl,
           |         CAST(ordinal_position AS BIGINT) AS ordinal,
           |         column_name AS col_name, data_type AS dt
           |  FROM information_schema.columns WHERE table_name = 'lineitem'
           |  UNION ALL
           |  SELECT 'embeddings', CAST(ordinal_position AS BIGINT),
           |         column_name, data_type
           |  FROM information_schema.columns WHERE table_name = 'embeddings'
           |)
           |ORDER BY 1, 2""".stripMargin)),

    // Schema drift classification (SchemaParity.schemaDiff): the
    // structural changelog — a replica that dropped a column, retyped
    // another (int64 -> int32), added one, and reordered the rest
    // classifies as missing/retyped/extra/moved, one actionable row
    // per divergent column (a raw row diff would report EVERY row).
    // The retyped verdict outranks moved: the type break is the
    // defect; the reorder is a symptom.
    QueryDef(
      "x250_schema_drift",
      (s, dir) => {
        val d = Tables(s, dir).documents
        val divergent = d.select(col("doc_id"), col("source"),
          col("n_chars").cast("int").as("n_chars"), col("text"),
          lit(true).as("extra_flag"))
        graft.ops.SchemaParity.schemaDiff(d, divergent)
      },
      Some(graft.ops.SchemaParity.schemaDiffOracleSql("documents",
        """SELECT doc_id, source, CAST(n_chars AS INTEGER) AS n_chars,
          |       text, true AS extra_flag FROM documents""".stripMargin))),

    // Incremental LSH dedup (Dedup.incrementalLshDedup): the production
    // daily-ingest shape — a ~25% delta slice (salted-hash split, the
    // x43 uniform) verdicts against the other ~75% acting as the
    // already-indexed corpus. The corpus never self-pairs; its text is
    // re-read only for matched candidate ids. Verdict policy: corpus
    // canon wins over same-batch matches; within the batch, first
    // occurrence (lower id) wins. Hot-bucket cap = x66's LshBucketCap
    // over the UNION's bucket widths, so the run is provably equal to
    // the lshDedupPairs full recompute (law in Batch17Spec). The DuckDB
    // twin replays the whole chain from the shared shingle/signature/
    // band kernels (one definition with x06/x07/x66).
    QueryDef(
      "x251_incremental_lsh_dedup",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val u = graft.ext.Pipeline.saltedUniform(col("doc_id"), "incr|")
        graft.ext.Dedup.incrementalLshDedup(
          docs.filter(u >= 0.25), docs.filter(u < 0.25),
          threshold = 0.3, bucketCap = Extensions.LshBucketCap)
          .orderBy("doc_id")
      },
      Some {
        s"""${Extensions.ShingleCtes} ${Extensions.SigCte}$SplitCte, bands AS (
           |  ${Extensions.MinHashBandUnionSql}
           |), roled AS (
           |  SELECT b.doc_id, b.band_idx, b.band_key, s.is_delta
           |  FROM bands b JOIN split s USING (doc_id)
           |), kept AS (
           |  SELECT * FROM roled
           |  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_key)
           |            <= ${Extensions.LshBucketCap}
           |), cand AS (
           |  SELECT DISTINCT d.doc_id AS delta_id, m.doc_id AS match_id,
           |                  NOT m.is_delta AS is_corpus
           |  FROM kept d JOIN kept m
           |    ON d.band_idx = m.band_idx AND d.band_key = m.band_key
           |  WHERE d.is_delta AND (NOT m.is_delta OR m.doc_id < d.doc_id)
           |), sizes AS (
           |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
           |), inter AS (
           |  SELECT c.delta_id, c.match_id, c.is_corpus, COUNT(*) AS i
           |  FROM cand c
           |  JOIN sh sa ON sa.doc_id = c.delta_id
           |  JOIN sh sb ON sb.doc_id = c.match_id AND sb.shingle = sa.shingle
           |  GROUP BY 1, 2, 3
           |), verified AS (
           |  SELECT delta_id, match_id, is_corpus, jaccard FROM (
           |    SELECT delta_id, match_id, is_corpus,
           |           CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
           |    FROM inter
           |    JOIN sizes na ON na.doc_id = delta_id
           |    JOIN sizes nb ON nb.doc_id = match_id) v
           |  WHERE jaccard >= 0.3
           |), best AS (
           |  SELECT delta_id, match_id, is_corpus, jaccard,
           |         row_number() OVER (PARTITION BY delta_id
           |           ORDER BY is_corpus DESC, jaccard DESC, match_id) AS rn
           |  FROM verified
           |), n_m AS (
           |  SELECT delta_id, COUNT(*) AS n_matches FROM verified GROUP BY 1
           |)
           |SELECT s.doc_id,
           |       CASE WHEN b.is_corpus THEN 'dup_corpus'
           |            WHEN b.is_corpus IS NOT NULL THEN 'dup_delta'
           |            ELSE 'kept' END AS verdict,
           |       b.match_id AS best_match_id, b.jaccard AS best_jaccard,
           |       COALESCE(n_m.n_matches, 0) AS n_matches
           |FROM split s
           |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.delta_id = s.doc_id
           |LEFT JOIN n_m ON n_m.delta_id = s.doc_id
           |WHERE s.is_delta
           |ORDER BY doc_id""".stripMargin
      }),

    // Incremental duplicate-cluster maintenance (Dedup.incrementalClusters):
    // the label-table changelog for the same ~25% batch — delta docs get
    // their final cluster id (self-labeled singletons are the INSERT
    // rows) and corpus docs relabel ONLY when a delta doc bridged their
    // cluster into another (the UPDATE rows); untouched clusters never
    // appear. Spark resolves a CONTRACTED graph (delta docs + touched
    // cluster representatives — never the corpus-wide loop); the DuckDB
    // twin recomputes both closures honestly: the union closure over
    // corpus pairs capped at INDEX-BUILD widths (kept_c — yesterday's
    // cap decisions are immutable) plus delta-involving pairs capped at
    // union widths (kept_u, the x251 set), against the corpus-only
    // closure for old labels. bench=false per the x22 precedent: the
    // gate derives corpusLabels via the driver-synced corpus loop
    // (production passes the persisted table).
    QueryDef(
      "x252_incremental_clusters",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val u = graft.ext.Pipeline.saltedUniform(col("doc_id"), "incr|")
        graft.ext.Dedup.incrementalClusters(
          docs.filter(u >= 0.25), docs.filter(u < 0.25),
          threshold = 0.3, bucketCap = Extensions.LshBucketCap)
          .orderBy("doc_id")
      },
      Some {
        val base =
          s"""${Extensions.ShingleCtes} ${Extensions.SigCte}$SplitCte, bands AS (
             |  ${Extensions.MinHashBandUnionSql}
             |), roled AS (
             |  SELECT b.doc_id, b.band_idx, b.band_key, s.is_delta
             |  FROM bands b JOIN split s USING (doc_id)
             |), kept_u AS (
             |  SELECT * FROM roled
             |  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_key)
             |            <= ${Extensions.LshBucketCap}
             |), kept_c AS (
             |  SELECT * FROM roled WHERE NOT is_delta
             |  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_key)
             |            <= ${Extensions.LshBucketCap}
             |), cand AS (
             |  SELECT DISTINCT d.doc_id AS doc_a, m.doc_id AS doc_b
             |  FROM kept_u d JOIN kept_u m
             |    ON d.band_idx = m.band_idx AND d.band_key = m.band_key
             |  WHERE d.is_delta AND (NOT m.is_delta OR m.doc_id < d.doc_id)
             |  UNION
             |  SELECT DISTINCT a.doc_id, b.doc_id
             |  FROM kept_c a JOIN kept_c b
             |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             |      AND a.doc_id < b.doc_id
             |), sizes AS (
             |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
             |), inter AS (
             |  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
             |  FROM cand c
             |  JOIN sh sa ON sa.doc_id = c.doc_a
             |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
             |  GROUP BY 1, 2
             |), dup_pairs AS (
             |  SELECT doc_a, doc_b FROM (
             |    SELECT doc_a, doc_b,
             |           CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
             |    FROM inter
             |    JOIN sizes na ON na.doc_id = doc_a
             |    JOIN sizes nb ON nb.doc_id = doc_b) j
             |  WHERE jaccard >= 0.3
             |), sym AS (
             |  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
             |  UNION ALL
             |  SELECT doc_b, doc_a FROM dup_pairs
             |), reach(a, b) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
             |), labels_new AS (
             |  SELECT a AS doc_id, MIN(b) AS cluster FROM reach GROUP BY 1
             |), dup_c AS (
             |  SELECT dp.doc_a, dp.doc_b FROM dup_pairs dp
             |  JOIN split s1 ON s1.doc_id = dp.doc_a AND NOT s1.is_delta
             |  JOIN split s2 ON s2.doc_id = dp.doc_b AND NOT s2.is_delta
             |), sym_c AS (
             |  SELECT doc_a AS src, doc_b AS dst FROM dup_c
             |  UNION ALL
             |  SELECT doc_b, doc_a FROM dup_c
             |), reach_c(a, b) AS (
             |  SELECT doc_id, doc_id FROM split WHERE NOT is_delta
             |  UNION
             |  SELECT r.a, s.dst FROM reach_c r JOIN sym_c s ON r.b = s.src
             |), labels_old AS (
             |  SELECT a AS doc_id, MIN(b) AS cluster FROM reach_c GROUP BY 1
             |)
             |SELECT s.doc_id, 'delta' AS side, n.cluster,
             |       CAST(NULL AS BIGINT) AS old_cluster,
             |       n.cluster = s.doc_id AS is_canonical
             |FROM split s JOIN labels_new n ON n.doc_id = s.doc_id
             |WHERE s.is_delta
             |UNION ALL
             |SELECT s.doc_id, 'corpus', n.cluster, o.cluster,
             |       n.cluster = s.doc_id
             |FROM split s
             |JOIN labels_new n ON n.doc_id = s.doc_id
             |JOIN labels_old o ON o.doc_id = s.doc_id
             |WHERE NOT s.is_delta AND n.cluster <> o.cluster
             |ORDER BY doc_id""".stripMargin
        "WITH RECURSIVE" + base.stripPrefix("WITH")
      },
      bench = false), // iterative driver-synced loop derives corpusLabels

    // Incremental semantic dedup (Curation.incrementalSemanticDedup):
    // the embedding-space member of the incremental family — a 25%
    // delta slice (vec_id % 4 == 3: scale-stable, trivially mirrored
    // in SQL) verdicts against the other 75% acting as the
    // already-indexed corpus. Corpus embeddings are read only for
    // under-cap cells the delta touches; over-cap cells verdict
    // 'overcap' (x174's explicitly-unknown semantics on the UNION's
    // widths); corpus canon wins, lower-id delta otherwise. tau = 0.1
    // at the gate (the 31-token-vocabulary lesson: the synthetic
    // embeddings' one within-cell cross pair sits at cos 0.144, so a
    // 0.4 gate would never exercise the verdict machinery). The DuckDB
    // twin replays the shared 16-plane cell kernel (BucketSql, one
    // definition with x174) and the same window policy.
    QueryDef(
      "x253_incremental_semantic_dedup",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        graft.ext.Curation.incrementalSemanticDedup(
          e.filter(col("vec_id") % 4 =!= 3), e.filter(col("vec_id") % 4 === 3),
          tau = 0.1, cellCap = 256)
          .orderBy("vec_id")
      },
      Some(
        raw"""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
             |), bk AS (
             |  SELECT vec_id, emb, ${Frontier.BucketSql} AS bucket,
             |         vec_id % 4 = 3 AS is_delta
             |  FROM e
             |), nv AS (
             |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs
             |  FROM bk GROUP BY 1
             |), cand AS (
             |  SELECT d.vec_id, m.vec_id AS match_id,
             |         NOT m.is_delta AS is_corpus,
             |         list_dot_product(d.emb, m.emb) AS cos
             |  FROM bk d
             |  JOIN nv ON nv.bucket = d.bucket AND nv.n_vecs <= 256
             |  JOIN bk m ON m.bucket = d.bucket
             |  WHERE d.is_delta AND (NOT m.is_delta OR m.vec_id < d.vec_id)
             |    AND list_dot_product(d.emb, m.emb) >= 0.1
             |), best AS (
             |  SELECT vec_id, match_id, is_corpus, cos,
             |         row_number() OVER (PARTITION BY vec_id
             |           ORDER BY is_corpus DESC, cos DESC, match_id) AS rn
             |  FROM cand
             |), nm AS (
             |  SELECT vec_id, COUNT(*) AS n_matches FROM cand GROUP BY 1
             |)
             |SELECT d.vec_id,
             |       CASE WHEN nv.n_vecs > 256 THEN 'overcap'
             |            WHEN b.is_corpus THEN 'dup_corpus'
             |            WHEN b.is_corpus IS NOT NULL THEN 'dup_delta'
             |            ELSE 'kept' END AS verdict,
             |       CASE WHEN nv.n_vecs > 256 THEN NULL
             |            ELSE b.match_id END AS best_match_id,
             |       CASE WHEN nv.n_vecs > 256 THEN NULL
             |            ELSE b.cos END AS best_cos,
             |       CASE WHEN nv.n_vecs > 256 THEN NULL
             |            ELSE COALESCE(nm.n_matches, 0) END AS n_matches
             |FROM bk d
             |JOIN nv ON nv.bucket = d.bucket
             |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.vec_id = d.vec_id
             |LEFT JOIN nm ON nm.vec_id = d.vec_id
             |WHERE d.is_delta
             |ORDER BY d.vec_id""".stripMargin))
  )
}
