package graft.queries

import graft.ext.{Pipeline, Similarity, TextAnalysis}
import graft.io.Tables
import graft.ops.RangeJoin
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 operator batch: range joins, statistical aggregates, spine
  * gap-fill, grouping sets, and the corpus-assembly half of a training
  * pipeline (boilerplate detection, adaptive stopword scrub, stratified
  * sampling, context-window chunking, sequence packing). Implementations
  * live in graft.ops / graft.ext; bindings here pin parameters and carry
  * the DuckDB oracle twins.
  */
object Advanced {

  /** x125's pinned query set: two bigrams and one trigram drawn from the
    * corpus vocabulary, exercising multi-occurrence docs and the
    * all-offsets-must-match rule. */
  private val PhraseQueries: Seq[String] =
    Seq("table part", "fast merge batch", "spark data vector")

  /** x126/x127's round count: enough to force merged symbols back through
    * pair counting (a round-2+ pair has a multi-char left or right side). */
  private val BpeRounds = 3

  /** The shared CTE prefix for the BPE oracles: word counts from the
    * corpus, then per round k: pair stats (p_k), the argmax merge (b_k),
    * and the greedy left-to-right application as a recursive fold (m_k →
    * s_k). Generated, not hand-written, so the round structure matches
    * [[BpeRounds]] by construction.
    *
    * Each b_k carries a NULL sentinel row when its pair table is empty
    * (every surviving word already a single symbol): the fold CROSS
    * JOINs b_k, so an empty winner table would otherwise drop EVERY
    * word from round k on — while the Spark side passes unmergeable
    * words through unchanged. The NULL merge matches nothing, so the
    * sentinel round is exactly that pass-through.
    */
  private lazy val BpeOracleStages: String = {
    val head =
      raw"""WITH RECURSIVE tok AS (
           |  SELECT string_split_regex(trim(text), '\s+') AS ts FROM documents
           |), w0 AS (
           |  SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM (SELECT unnest(ts) AS t FROM tok)
           |  WHERE regexp_matches(t, '^[a-z]{1,20}$$')
           |  GROUP BY 1
           |), s0 AS (
           |  SELECT word, cnt, string_split_regex(word, '') AS sym FROM w0
           |)""".stripMargin
    val stages = (1 to BpeRounds).map { k =>
      raw""", p$k AS (
           |  SELECT sym[i] AS left_sym, sym[i+1] AS right_sym,
           |         CAST(SUM(cnt) AS BIGINT) AS pair_count
           |  FROM (SELECT cnt, sym, unnest(generate_series(1, len(sym)-1)) AS i
           |        FROM s${k - 1})
           |  GROUP BY 1, 2
           |), b$k AS (
           |  (SELECT left_sym, right_sym, pair_count FROM p$k
           |   ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1)
           |  UNION ALL
           |  (SELECT CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
           |   WHERE NOT EXISTS (SELECT 1 FROM p$k))
           |), m$k AS (
           |  SELECT word, cnt, sym, 1 AS i, []::VARCHAR[] AS acc FROM s${k - 1}
           |  UNION ALL
           |  SELECT m.word, m.cnt, m.sym, m.i + 1,
           |    CASE WHEN len(m.acc) > 0 AND m.acc[-1] = b.left_sym
           |              AND m.sym[m.i] = b.right_sym
           |         THEN list_append(m.acc[:len(m.acc)-1], b.left_sym || b.right_sym)
           |         ELSE list_append(m.acc, m.sym[m.i]) END
           |  FROM m$k m CROSS JOIN b$k b WHERE m.i <= len(m.sym)
           |), s$k AS (
           |  SELECT word, cnt, acc AS sym FROM m$k WHERE i = len(sym) + 1
           |)""".stripMargin
    }
    head + stages.mkString + "\n"
  }

  /** The covariance sufficient-statistics chain fp → tri: 1e-6 snap,
    * upper-triangle dim self-join, exact BIGINT sums. ONE text shared
    * by [[CovOracleSql]] (x132 AND x139) and [[PcaOracleSql]]'s head.
    */
  private lazy val CovTriCtes: String =
    """WITH fp AS (
      |  SELECT e.vec_id, d.dim,
      |         CAST(FLOOR(CAST(e.embedding[d.dim] AS DOUBLE) * 1000000.0 + 0.5)
      |              AS BIGINT) AS v
      |  FROM embeddings e, (SELECT unnest(generate_series(1, 64)) AS dim) d
      |), tri AS (
      |  SELECT a.dim AS dim_i, b.dim AS dim_j,
      |         CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(a.v) AS BIGINT) AS sx,
      |         CAST(SUM(b.v) AS BIGINT) AS sy,
      |         CAST(SUM(CAST(a.v AS HUGEINT) * b.v) AS BIGINT) AS sxy
      |  FROM fp a JOIN fp b ON a.vec_id = b.vec_id AND a.dim <= b.dim
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** The full covariance oracle — used VERBATIM by x132 and x139: x139's
    * gate hash-matches the incremental merge against this full
    * recompute, a proof that only holds by construction if the two
    * oracles are the same string. */
  private lazy val CovOracleSql: String = CovTriCtes +
    """
      |SELECT dim_i, dim_j, n, sxy,
      |       (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/CAST(n AS DOUBLE))
      |         / CAST(n AS DOUBLE) / 1000000.0 / 1000000.0 AS cov
      |FROM tri ORDER BY dim_i, dim_j""".stripMargin

  /** x136's round count (power iteration on the covariance matrix). */
  private val PcaIters = 3

  /** Generated oracle for x136: the x132 covariance chain, snapped to a
    * 1e-9 fixed-point grid and mirrored to the full matrix, then
    * [[PcaIters]] matvec+renormalize rounds unrolled as CTEs. Integer
    * division (`//` / Spark DIV) truncates toward zero in BOTH engines,
    * so the renormalization is bit-identical.
    */
  private lazy val PcaOracleSql: String = {
    val head = CovTriCtes +
      """, cfp AS (
        |  SELECT dim_i, dim_j,
        |         CAST(FLOOR((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/CAST(n AS DOUBLE))
        |           / CAST(n AS DOUBLE) / 1000000.0 / 1000000.0 * 1000000000.0 + 0.5) AS BIGINT) AS c_fp
        |  FROM tri
        |), m_full AS (
        |  SELECT dim_i AS i, dim_j AS j, c_fp FROM cfp
        |  UNION ALL
        |  SELECT dim_j AS i, dim_i AS j, c_fp FROM cfp WHERE dim_i <> dim_j
        |), v0 AS (
        |  SELECT dim AS j, CASE WHEN dim = 1 THEN CAST(1000000 AS BIGINT)
        |                        ELSE CAST(0 AS BIGINT) END AS v_fp
        |  FROM (SELECT unnest(generate_series(1, 64)) AS dim)
        |)""".stripMargin
    val rounds = (1 to PcaIters).map { k =>
      s""", w$k AS (
         |  SELECT m.i, CAST(SUM(m.c_fp * v.v_fp) AS BIGINT) AS w
         |  FROM m_full m JOIN v${k - 1} v ON m.j = v.j GROUP BY 1
         |), mx$k AS (
         |  SELECT MAX(ABS(w)) AS m FROM w$k
         |), v$k AS (
         |  SELECT i AS j,
         |         w // (CASE WHEN m // 1000000 = 0 THEN 1 ELSE m // 1000000 END) AS v_fp
         |  FROM w$k, mx$k
         |)""".stripMargin
    }.mkString
    head + rounds +
      s"""
         |SELECT j AS dim, v_fp,
         |       CAST(v_fp AS DOUBLE) / 1000000.0 AS component
         |FROM v$PcaIters ORDER BY dim""".stripMargin
  }

  /** x146's result-page size (greedy MMR rounds). */
  private val MmrK = 3

  /** Generated oracle for x146: relevance pool + pairwise sims, then the
    * greedy rounds unrolled — each round excludes the selected set,
    * penalizes by max pairwise sim against it, and argmaxes the shared
    * 0.5·rel − 0.5·pen expression with doc_id ties.
    */
  private lazy val MmrOracleSql: String = {
    val head =
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |), qe AS (
        |  SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id IN (0, 1, 2, 3, 4)
        |), candr AS (
        |  SELECT qe.qid, e.vec_id AS doc_id, list_dot_product(e.emb, qe.qemb) AS rel
        |  FROM e, qe WHERE e.vec_id <> qe.qid
        |), cand AS (
        |  SELECT qid, doc_id, rel FROM (
        |    SELECT qid, doc_id, rel,
        |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS rn
        |    FROM candr) r
        |  WHERE rn <= 10
        |), ps AS (
        |  SELECT a.qid, a.doc_id AS da, b.doc_id AS db,
        |         list_dot_product(ea.emb, eb.emb) AS psim
        |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.doc_id <> b.doc_id
        |  JOIN e ea ON ea.vec_id = a.doc_id
        |  JOIN e eb ON eb.vec_id = b.doc_id
        |), sel1 AS (
        |  SELECT qid, doc_id, rel, pen, mmr, 1 AS round FROM (
        |    SELECT qid, doc_id, rel, CAST(0.0 AS DOUBLE) AS pen,
        |           0.5 * rel - 0.5 * CAST(0.0 AS DOUBLE) AS mmr,
        |           ROW_NUMBER() OVER (PARTITION BY qid
        |             ORDER BY (0.5 * rel - 0.5 * CAST(0.0 AS DOUBLE)) DESC, doc_id) AS rn
        |    FROM cand) r WHERE rn = 1
        |), all1 AS (
        |  SELECT * FROM sel1
        |)""".stripMargin
    val rounds = (2 to MmrK).map { t =>
      s""", pen$t AS (
         |  SELECT c.qid, c.doc_id, MAX(p.psim) AS pen
         |  FROM cand c
         |  JOIN ps p ON p.qid = c.qid AND p.da = c.doc_id
         |  JOIN all${t - 1} s ON s.qid = p.qid AND s.doc_id = p.db
         |  WHERE NOT EXISTS (SELECT 1 FROM all${t - 1} x
         |                    WHERE x.qid = c.qid AND x.doc_id = c.doc_id)
         |  GROUP BY 1, 2
         |), sel$t AS (
         |  SELECT qid, doc_id, rel, pen, mmr, $t AS round FROM (
         |    SELECT c.qid, c.doc_id, c.rel, g.pen,
         |           0.5 * c.rel - 0.5 * g.pen AS mmr,
         |           ROW_NUMBER() OVER (PARTITION BY c.qid
         |             ORDER BY (0.5 * c.rel - 0.5 * g.pen) DESC, c.doc_id) AS rn
         |    FROM cand c JOIN pen$t g ON g.qid = c.qid AND g.doc_id = c.doc_id) r
         |  WHERE rn = 1
         |), all$t AS (
         |  SELECT * FROM all${t - 1} UNION ALL SELECT * FROM sel$t
         |)""".stripMargin
    }.mkString
    head + rounds +
      s"\nSELECT qid, round, doc_id, rel, pen, mmr FROM all$MmrK ORDER BY qid, round"
  }

  /** Shared oracle CTE: tokens array per document. */
  private val TokCte =
    raw"""WITH tok AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
         |)""".stripMargin

  /** The correlation formula evaluated identically by Spark and DuckDB
    * from the exact sufficient statistics (n, sx, sy, sxx, sxy, syy) —
    * the sums are exact (BIGINT / decimal-cast-before-sum), so casting
    * them to double and running the same IEEE expression tree yields
    * identical bits in both engines. Degenerate variance → NULL.
    *
    * Envelope, fail-fast by construction: the n·sxx / sx·sx products run
    * in the stats' NATIVE types (the consumers mix BIGINT counts with
    * scale-4 decimal money sums — a forced integer-decimal recast here
    * would silently truncate the money stats' fractional digits), so
    * past ~2^63 the products stop loudly on BOTH sides — Spark 4's
    * default ANSI arithmetic throws on the overflow and DuckDB raises —
    * rather than wrapping. A corpus that large re-grids its stats (the
    * x118 convention) instead of widening this shared tree.
    */
  private val CorrFormula =
    """CASE WHEN (n*sxx - sx*sx) <= 0 OR (n*syy - sy*sy) <= 0 THEN NULL
      |     ELSE (n*sxy - sx*sy) / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(n*syy - sy*sy)) END""".stripMargin

  /** k-means pinned parameters for x57/x58: k=8 cells, 2 Lloyd steps
    * (each unrolled iteration is a CTE block in the oracle). Declared
    * BEFORE `defs`, which forces the oracle strings at object init.
    */
  private val KmK = 8
  private val KmIters = 2

  /** The shared SCD-2 fixture of x65/x87/x93: the customer-segment
    * history, the post-2000 PREMIUM update batch, and Upsert.scd2's
    * merge at effective date 2001-06-01 — built ONCE so the three gates
    * exercise the same merge convention by construction (previously
    * three hand-kept copies on each side). */
  private def scd2Fixture(t: Tables)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val hist = t.customer.select(col("c_custkey").as("cust_id"),
      col("c_mktsegment").as("segment"),
      lit("2000-01-01").as("valid_from"),
      lit(null).cast("string").as("valid_to"))
    val rev = t.orders.filter(col("o_orderdate") >= "2000-01-01")
      .groupBy(col("o_custkey").as("cust_id"))
      .agg(moneySum(col("o_totalprice")).as("rev"))
    val upd = rev.join(t.customer, col("cust_id") === col("c_custkey"))
      .select(col("cust_id"),
        when(col("rev") >= 1000000.0, lit("PREMIUM"))
          .otherwise(col("c_mktsegment")).as("segment"))
    val merged = graft.ops.Upsert.scd2(hist, upd, "cust_id", Seq("segment"),
      "2001-06-01")
    (hist, upd, merged)
  }

  /** hist → upd → merged as DuckDB CTEs — the oracle twin of
    * [[scd2Fixture]], ONE text for the x65/x87/x93 gates. */
  private lazy val Scd2OracleCtes: String =
    """WITH hist AS (
      |  SELECT c_custkey AS cust_id, c_mktsegment AS segment,
      |         '2000-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
      |  FROM customer
      |), upd AS (
      |  SELECT r.cust_id,
      |         CASE WHEN r.rev >= 1000000.0 THEN 'PREMIUM' ELSE c.c_mktsegment END AS segment
      |  FROM (SELECT o_custkey AS cust_id,
      |               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
      |        FROM orders WHERE o_orderdate >= '2000-01-01' GROUP BY 1) r
      |  JOIN customer c ON c.c_custkey = r.cust_id
      |), merged AS (
      |  SELECT h.cust_id, h.segment, h.valid_from, h.valid_to
      |  FROM hist h LEFT JOIN upd u ON u.cust_id = h.cust_id
      |  WHERE u.cust_id IS NULL OR u.segment IS NOT DISTINCT FROM h.segment
      |  UNION ALL
      |  SELECT h.cust_id, h.segment, h.valid_from, '2001-06-01'
      |  FROM hist h JOIN upd u ON u.cust_id = h.cust_id
      |  WHERE u.segment IS DISTINCT FROM h.segment
      |  UNION ALL
      |  SELECT u.cust_id, u.segment, '2001-06-01', CAST(NULL AS VARCHAR)
      |  FROM upd u LEFT JOIN hist h ON h.cust_id = u.cust_id
      |  WHERE h.cust_id IS NULL OR u.segment IS DISTINCT FROM h.segment
      |)""".stripMargin


  val defs: Seq[QueryDef] = Seq(

    // Range join without an equi key: purchases attributed to error-burst
    // "incident" windows (hours with >= 3 errors, window = that hour).
    // The Spark side goes through ops.RangeJoin's bin trick — an EQUI-join
    // on half-hour time bins plus the exact containment predicate — never
    // a BroadcastNestedLoopJoin; incidents with zero purchases survive
    // via the final left join.
    QueryDef(
      "x37_incident_attribution",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val incidents = ev.filter(col("event_type") === "error")
          .groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n_errors"))
          .filter(col("n_errors") >= 3)
        val windows = incidents
          .select(col("hour").as("inc_hour"), col("hour").as("inc_start"),
            (col("hour") + expr("interval 1 hour")).as("inc_end"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("ts").as("p_ts"), col("user_id"), col("value"))
        val hits = RangeJoin.pointInInterval(
            purchases, windows, "p_ts", "inc_start", "inc_end", binSeconds = 1800L)
          .groupBy(col("inc_hour").as("hour"))
          .agg(
            count(lit(1)).as("n_purchases"),
            countDistinct(col("user_id")).as("n_buyers"),
            moneySum(col("value")).as("purchase_value"))
        incidents.join(hits, Seq("hour"), "left")
          .select(col("hour"), col("n_errors"),
            coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
            coalesce(col("n_buyers"), lit(0L)).as("n_buyers"),
            coalesce(col("purchase_value"), lit(0.0)).as("purchase_value"))
          .orderBy("hour")
      },
      Some("""WITH inc AS (
             |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |         CAST(COUNT(*) AS BIGINT) AS n_errors
             |  FROM events WHERE event_type = 'error'
             |  GROUP BY 1 HAVING COUNT(*) >= 3
             |), pur AS (
             |  SELECT CAST(ts AS TIMESTAMP) AS p_ts, user_id, value
             |  FROM events WHERE event_type = 'purchase'
             |)
             |SELECT i.hour, i.n_errors,
             |  CAST(COUNT(p.p_ts) AS BIGINT) AS n_purchases,
             |  CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_buyers,
             |  coalesce(CAST(SUM(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS purchase_value
             |FROM inc i LEFT JOIN pur p
             |  ON p.p_ts >= i.hour AND p.p_ts < i.hour + INTERVAL 1 HOUR
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // Cross-document boilerplate: 5-gram spans shared by >= 3 documents.
    QueryDef(
      "x38_boilerplate_ngrams",
      (s, dir) => TextAnalysis.boilerplateNgrams(Tables(s, dir).documents),
      Some(s"""$TokCte, sh AS (
              |  SELECT DISTINCT doc_id, array_to_string(ts[i:i+4], ' ') AS gram
              |  FROM tok, unnest(generate_series(1, greatest(length(ts)-4, 1))) t(i)
              |)
              |SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
              |FROM sh GROUP BY 1 HAVING COUNT(*) >= 3
              |ORDER BY df DESC, gram ASC LIMIT 20""".stripMargin)),

    // Corpus-adaptive stopword removal, order-preserving reassembly.
    QueryDef(
      "x39_stopword_scrub",
      (s, dir) => TextAnalysis.stopwordScrub(Tables(s, dir).documents).orderBy("doc_id"),
      Some(s"""$TokCte, pos AS (
              |  SELECT doc_id, i, ts[i] AS tok
              |  FROM tok, unnest(generate_series(1, length(ts))) t(i)
              |), df AS (
              |  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM pos GROUP BY 1
              |), stop AS (
              |  SELECT tok FROM df, (SELECT COUNT(*) AS n FROM documents)
              |  WHERE df > 0.4 * n
              |), kept AS (
              |  SELECT doc_id, i, tok FROM pos
              |  WHERE tok NOT IN (SELECT tok FROM stop)
              |)
              |SELECT d.doc_id, CAST(length(t.ts) AS BIGINT) AS n_tokens,
              |  CAST(COUNT(k.tok) AS BIGINT) AS n_kept,
              |  coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '') AS clean_text
              |FROM documents d JOIN tok t USING (doc_id)
              |LEFT JOIN kept k USING (doc_id)
              |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // Dimension × time-spine gap fill: every (nation, month) cell of the
    // orders date range, zero-filled where no orders exist — the missing-
    // period repair every monthly-trend dashboard needs (r02 only shows
    // months that HAVE orders). The spine is sequence()-generated from
    // the data's own min/max month; a broadcast cross join builds the
    // 25×80 grid, the fact aggregate left-joins in.
    QueryDef(
      "x40_revenue_spine",
      (s, dir) => {
        val t = Tables(s, dir)
        val bounds = t.orders.agg(
          min(trunc(col("o_orderdate"), "month")).as("mn"),
          max(trunc(col("o_orderdate"), "month")).as("mx"))
        val months = bounds
          .select(explode(sequence(col("mn"), col("mx"), expr("interval 1 month"))).as("m"))
          .select(date_format(col("m"), "yyyy-MM").as("order_month"))
        val spine = t.nation.select(col("n_name").as("nation"))
          .crossJoin(broadcast(months))
        val actual = t.orders
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .join(t.nation, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
          .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("revenue"))
        spine.join(actual, Seq("nation", "order_month"), "left")
          .select(col("nation"), col("order_month"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("revenue"), lit(0.0)).as("revenue"))
          .orderBy("nation", "order_month")
      },
      Some(s"""WITH b AS (
              |  SELECT date_trunc('month', MIN(o_orderdate)) AS mn,
              |         date_trunc('month', MAX(o_orderdate)) AS mx
              |  FROM orders
              |), months AS (
              |  SELECT strftime(unnest(generate_series(mn, mx, INTERVAL 1 MONTH)), '%Y-%m') AS order_month
              |  FROM b
              |), spine AS (
              |  SELECT n_name AS nation, order_month FROM nation, months
              |), actual AS (
              |  SELECT n.n_name AS nation, strftime(o.o_orderdate, '%Y-%m') AS order_month,
              |         CAST(COUNT(*) AS BIGINT) AS n_orders,
              |         ${sqlMoneySum("o_totalprice")} AS revenue
              |  FROM orders o
              |  JOIN customer c ON o.o_custkey = c.c_custkey
              |  JOIN nation n ON c.c_nationkey = n.n_nationkey
              |  GROUP BY 1, 2
              |)
              |SELECT s.nation, s.order_month,
              |  CAST(coalesce(a.n_orders, 0) AS BIGINT) AS n_orders,
              |  coalesce(a.revenue, 0.0) AS revenue
              |FROM spine s LEFT JOIN actual a USING (nation, order_month)
              |ORDER BY 1, 2""".stripMargin)),

    // Pearson correlation (order count vs lifetime spend per customer,
    // by nation) from EXACT sufficient statistics: integer and decimal
    // sums are order-independent, the final formula is one shared IEEE
    // expression tree over those exact inputs — the only way a
    // distributed corr and a single-threaded oracle corr can bit-match
    // (engine-native corr() aggregates sum doubles in partition order).
    QueryDef(
      "x41_nation_order_revenue_corr",
      (s, dir) => {
        val t = Tables(s, dir)
        val per = t.orders.groupBy("o_custkey")
          .agg(count(lit(1)).as("x"),
            sum(money(col("o_totalprice"))).cast("decimal(17,4)").as("yd"))
        val st = per
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .join(t.nation, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("sx"),
            sum(col("yd")).cast("double").as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("x").cast("decimal(9,0)") * col("yd")).cast("double").as("sxy"),
            sum(col("yd") * col("yd")).cast("double").as("syy"))
        st.selectExpr("nation", "n", s"$CorrFormula AS corr_orders_revenue")
          .orderBy("nation")
      },
      Some(s"""WITH per AS (
              |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS x,
              |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DECIMAL(19,4)) AS yd
              |  FROM orders GROUP BY 1
              |), st AS (
              |  -- decimal→double via VARCHAR: DuckDB's direct wide-decimal
              |  -- cast is off by 1 ulp when the raw integer exceeds 2^53
              |  -- (measured), while string→double parsing is correctly
              |  -- rounded — matching Spark's correctly-rounded cast.
              |  SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(SUM(x) AS BIGINT) AS sx,
              |    CAST(CAST(SUM(yd) AS VARCHAR) AS DOUBLE) AS sy,
              |    CAST(SUM(x*x) AS BIGINT) AS sxx,
              |    CAST(CAST(SUM(CAST(x AS DECIMAL(19,0)) * yd) AS VARCHAR) AS DOUBLE) AS sxy,
              |    CAST(CAST(SUM(yd * yd) AS VARCHAR) AS DOUBLE) AS syy
              |  FROM per p
              |  JOIN customer c ON p.o_custkey = c.c_custkey
              |  JOIN nation n ON c.c_nationkey = n.n_nationkey
              |  GROUP BY 1
              |)
              |SELECT nation, n, $CorrFormula AS corr_orders_revenue
              |FROM st ORDER BY 1""".stripMargin)),

    // Fixed-width histogram of order totals: 20 × 25k buckets, top bucket
    // open-ended. floor(double/const) and the bucket compare are single
    // exactly-rounded IEEE ops — bit-stable cross-engine — and the whole
    // histogram is one codegen'd projection + one aggregate.
    QueryDef(
      "x42_price_histogram",
      (s, dir) => Tables(s, dir).orders
        .withColumn("bucket",
          least(floor(col("o_totalprice") / 25000.0), lit(19.0)).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("revenue"))
        .select(col("bucket"), (col("bucket") * 25000).cast("double").as("bucket_lo"),
          col("n_orders"), col("revenue"))
        .orderBy("bucket"),
      Some(s"""SELECT bucket, CAST(bucket * 25000 AS DOUBLE) AS bucket_lo,
              |  CAST(COUNT(*) AS BIGINT) AS n_orders,
              |  ${sqlMoneySum("o_totalprice")} AS revenue
              |FROM (
              |  SELECT CAST(LEAST(FLOOR(o_totalprice / 25000.0), 19) AS BIGINT) AS bucket,
              |         o_totalprice
              |  FROM orders) t
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Stratified deterministic sampling: per-source keep rates (50% /
    // 25% / 10% / 5% by source tier), salted id-hash uniform.
    QueryDef(
      "x43_stratified_sample",
      (s, dir) => {
        val tier = substring(col("source"), 4, 10).cast("int")
        val rate = when(tier < 5, 0.5).when(tier < 10, 0.25)
          .when(tier < 15, 0.1).otherwise(0.05)
        Pipeline.stratifiedSample(Tables(s, dir).documents, "doc_id", rate)
          .select("doc_id", "source", "u")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, u FROM (
             |  SELECT doc_id, source,
             |    CAST(('0x' || substring(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |      / 4294967296.0 AS u,
             |    CASE WHEN CAST(substring(source, 4) AS INT) < 5 THEN 0.5
             |         WHEN CAST(substring(source, 4) AS INT) < 10 THEN 0.25
             |         WHEN CAST(substring(source, 4) AS INT) < 15 THEN 0.1
             |         ELSE 0.05 END AS rate
             |  FROM documents) t
             |WHERE u < rate ORDER BY doc_id""".stripMargin)),

    // Context-window chunking: 40-token windows every 30 tokens.
    QueryDef(
      "x44_chunking",
      (s, dir) => Pipeline.chunk(Tables(s, dir).documents).orderBy("doc_id", "chunk_idx"),
      Some(s"""$TokCte
              |SELECT doc_id, CAST((i - 1) // 30 AS BIGINT) AS chunk_idx,
              |  array_to_string(ts[i:i+39], ' ') AS chunk_text,
              |  CAST(length(ts[i:i+39]) AS BIGINT) AS n_tokens
              |FROM tok, unnest(generate_series(1, greatest(length(ts), 1), 30)) t(i)
              |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Sequence packing into 2000-token bins per source.
    QueryDef(
      "x45_context_packing",
      (s, dir) => Pipeline.packBudget(Tables(s, dir).documents).orderBy("doc_id"),
      Some(raw"""SELECT doc_id, source, n_tokens, cum_before,
                |  cum_before // 2000 AS bin
                |FROM (
                |  SELECT doc_id, source,
                |    CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                |    CAST(coalesce(SUM(length(string_split_regex(trim(text), '\s+'))) OVER (
                |      PARTITION BY source ORDER BY doc_id
                |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
                |  FROM documents) t
                |ORDER BY doc_id""".stripMargin)),

    // GROUPING SETS with grouping_id — the explicit-subtotal form that
    // completes the ROLLUP (r08) / CUBE (x29) family: per-(region,nation),
    // per-region, and grand-total rows in one aggregate pass.
    QueryDef(
      "x46_grouping_sets",
      (s, dir) => {
        graft.warehouse.View.dw(s, dir)
        s.sql("""SELECT coalesce(region, 'ALL') AS region,
                |  coalesce(nation, 'ALL') AS nation,
                |  CAST(grouping_id(region, nation) AS BIGINT) AS gid,
                |  CAST(COUNT(*) AS BIGINT) AS n_customers,
                |  CAST(SUM(CAST(total_revenue AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
                |FROM customer_revenue_summary
                |GROUP BY GROUPING SETS ((region, nation), (region), ())
                |ORDER BY region, nation""".stripMargin)
      },
      Some(s"""${graft.warehouse.RevenueSummary.oracleCtes}
              |SELECT coalesce(region, 'ALL') AS region,
              |  coalesce(nation, 'ALL') AS nation,
              |  CAST(GROUPING(region, nation) AS BIGINT) AS gid,
              |  CAST(COUNT(*) AS BIGINT) AS n_customers,
              |  CAST(SUM(CAST(total_revenue AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
              |FROM dw
              |GROUP BY GROUPING SETS ((region, nation), (region), ())
              |ORDER BY region, nation""".stripMargin)),

    // approx_percentile beside the exact percentile, gated via the same
    // in-query accuracy-contract pattern as x19. The sketch value itself
    // is merge-order-dependent (GK summaries) AND uninterpolated (it
    // returns an actual element, so a value-relative tolerance breaks
    // where adjacent order totals are far apart); the honest contract is
    // RANK-based — GK at accuracy 10000 bounds rank error by n/10000, so
    // the sketch median must land inside the exact [p45, p55] band. The
    // oracle pins the exact median and the boolean. This is the scale
    // path x20's scaladoc promises, now under the gate.
    QueryDef(
      "x47_percentile_contract",
      (s, dir) => Tables(s, dir).orders
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          expr("percentile(o_totalprice, 0.5)").as("exact_median"),
          expr("percentile(o_totalprice, 0.45)").as("p45"),
          expr("percentile(o_totalprice, 0.55)").as("p55"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("approx"))
        .select(col("o_orderpriority"), col("n_orders"), col("exact_median"),
          (col("approx") >= col("p45") && col("approx") <= col("p55"))
            .as("sketch_in_rank_band"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
             |  quantile_cont(o_totalprice, 0.5) AS exact_median,
             |  TRUE AS sketch_in_rank_band
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Distribution-position windows: percent_rank + cume_dist of each
    // customer's lifetime revenue WITHIN its region — the peer-relative
    // "where does this customer sit" cut. Values depend only on the
    // revenue ordering (ties share peer groups identically in both
    // engines) and are single IEEE divisions of exact ranks — bit-stable.
    // Partitioned by region: parallel, never a global window.
    QueryDef(
      "x48_revenue_position",
      (s, dir) => {
        graft.warehouse.View.dw(s, dir)
        s.sql("""SELECT customer_id, region, total_revenue,
                |  percent_rank() OVER w AS pct_rank,
                |  cume_dist() OVER w AS cume
                |FROM customer_revenue_summary
                |WINDOW w AS (PARTITION BY region ORDER BY total_revenue)
                |ORDER BY customer_id""".stripMargin)
      },
      Some(s"""${graft.warehouse.RevenueSummary.oracleCtes}
              |SELECT customer_id, region, total_revenue,
              |  percent_rank() OVER w AS pct_rank,
              |  cume_dist() OVER w AS cume
              |FROM dw
              |WINDOW w AS (PARTITION BY region ORDER BY total_revenue)
              |ORDER BY customer_id""".stripMargin)),

    // Tokenizer-vocabulary coverage: per-document in-vocab token share
    // against the corpus' top-k vocabulary (deterministic count-desc,
    // token-asc ranking) — the OOV-rate diagnostic run before committing
    // to a tokenizer vocab. Vocabulary is broadcast (it is top-k sized by
    // construction); the membership count is a broadcast semi join that
    // keeps per-token multiplicity.
    QueryDef(
      "x49_vocab_coverage",
      (s, dir) => {
        val t = Tables(s, dir).documents
        val tok = t.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        val vocab = tok.groupBy("tok").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok").asc).limit(10).select("tok")
        val inv = tok.join(broadcast(vocab), Seq("tok"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_in_vocab"))
        t.select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
          .join(inv, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_in_vocab"), lit(0L)).as("n_in_vocab"),
            (lit(1.0) - coalesce(col("n_in_vocab"), lit(0L)).cast("double") / col("n_tokens"))
              .as("oov_rate"))
          .orderBy("doc_id")
      },
      Some(s"""$TokCte, pos AS (
              |  SELECT doc_id, unnest(ts) AS tok FROM tok
              |), vocab AS (
              |  SELECT tok FROM pos GROUP BY tok
              |  ORDER BY COUNT(*) DESC, tok ASC LIMIT 10
              |), inv AS (
              |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_in_vocab
              |  FROM pos WHERE tok IN (SELECT tok FROM vocab) GROUP BY 1
              |)
              |SELECT d.doc_id, CAST(length(t.ts) AS BIGINT) AS n_tokens,
              |  CAST(coalesce(i.n_in_vocab, 0) AS BIGINT) AS n_in_vocab,
              |  1.0 - CAST(coalesce(i.n_in_vocab, 0) AS DOUBLE) / length(t.ts) AS oov_rate
              |FROM documents d JOIN tok t USING (doc_id)
              |LEFT JOIN inv i USING (doc_id)
              |ORDER BY d.doc_id""".stripMargin)),

    // Weekly retention cohort matrix: users bucketed by first-seen week,
    // per-(cohort, week-offset) distinct active users and retention
    // rate — the product-analytics lifecycle cut. Two aggregates and a
    // key join; offsets are integer day-diffs DIV 7 (exact both engines).
    QueryDef(
      "x50_retention_cohorts",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val fw = ev.groupBy("user_id")
          .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
        val sizes = fw.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
        val act = ev.select(col("user_id"), date_trunc("week", col("ts")).as("w")).distinct()
        fw.join(act, "user_id")
          .withColumn("week_offset", expr("datediff(w, cohort_week) div 7"))
          .groupBy("cohort_week", "week_offset")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .join(sizes, "cohort_week")
          .select(
            date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort"),
            col("week_offset"), col("n_users"),
            (col("n_users").cast("double") / col("cohort_size")).as("retention"))
          .orderBy("cohort", "week_offset")
      },
      Some("""WITH fw AS (
             |  SELECT user_id, date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS cohort_week
             |  FROM events GROUP BY 1
             |), sizes AS (
             |  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
             |  FROM fw GROUP BY 1
             |), act AS (
             |  SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS w
             |  FROM events
             |)
             |SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort,
             |  CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT) AS week_offset,
             |  CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users,
             |  CAST(COUNT(DISTINCT f.user_id) AS DOUBLE) / ANY_VALUE(s.cohort_size) AS retention
             |FROM fw f
             |JOIN act a USING (user_id)
             |JOIN sizes s USING (cohort_week)
             |GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),

    // r04's top-3-categories-per-nation re-expressed through the
    // k-bounded BoundedTopK aggregator: ONE aggregation with a ≤k buffer
    // and map-side combine, versus the window form's full shuffle + sort
    // (see functions/BoundedTopK scaladoc for the 100 TB argument). Same
    // rows, same oracle shape as r04 — the gate proves the two plans
    // semantically equivalent.
    QueryDef(
      "x51_topk_categories_agg",
      (s, dir) => {
        val t = Tables(s, dir)
        val catRev = t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t.part.select("p_partkey", "p_type")), col("l_partkey") === col("p_partkey"))
          .groupBy(col("n_name").as("nation"), col("p_type").as("category"))
          .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        catRev
          .groupBy("nation")
          .agg(graft.functions.BoundedTopK(3)(col("revenue"), col("category")).as("top"))
          .select(col("nation"), posexplode(col("top")).as(Seq("r0", "e")))
          .select(col("nation"), col("e._2").as("category"), col("e._1").as("revenue"),
            (col("r0") + 1).cast("long").as("rnk"))
          .orderBy("nation", "rnk")
      },
      Some(s"""WITH cat_rev AS (
              |  SELECT n.n_name AS nation, p.p_type AS category,
              |         ${sqlMoneySum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
              |  FROM lineitem l
              |  JOIN orders o ON l.l_orderkey = o.o_orderkey
              |  JOIN customer c ON o.o_custkey = c.c_custkey
              |  JOIN nation n ON c.c_nationkey = n.n_nationkey
              |  JOIN part p ON l.l_partkey = p.p_partkey
              |  GROUP BY 1, 2)
              |SELECT nation, category, revenue, rnk FROM (
              |  SELECT nation, category, revenue,
              |         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY revenue DESC, category ASC) AS rnk
              |  FROM cat_rev) ranked
              |WHERE rnk <= 3 ORDER BY nation, rnk""".stripMargin)),

    // Constraint audit as a fixed-shape report (closes SURVEY §2.1 S1 to
    // the oracle gate): NOT NULL / PK-unique / FK checks each emit a
    // violations count (0 = clean — the oracle proves the zeros too, so
    // a generator drift or loader bug flips a gated row, not a silent
    // assumption). Every check is an aggregate or anti-join subplan;
    // nothing collects to the driver.
    QueryDef(
      "x52_constraint_audit",
      (s, dir) => graft.model.Validate.auditFrame(Tables(s, dir)),
      Some {
        def sub(tbl: String, rule: String, q: String) =
          s"SELECT '$tbl' AS tbl, '$rule' AS rule, CAST(($q) AS BIGINT) AS violations"
        Seq(
          sub("orders", "not_null_o_custkey",
            "SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL"),
          sub("lineitem", "not_null_l_orderkey",
            "SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL"),
          sub("customer", "not_null_c_custkey",
            "SELECT COUNT(*) FROM customer WHERE c_custkey IS NULL"),
          sub("customer", "pk_unique_c_custkey",
            "SELECT COUNT(*) FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING COUNT(*) > 1)"),
          sub("orders", "pk_unique_o_orderkey",
            "SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)"),
          sub("nation", "pk_unique_n_nationkey",
            "SELECT COUNT(*) FROM (SELECT n_nationkey FROM nation GROUP BY 1 HAVING COUNT(*) > 1)"),
          sub("region", "pk_unique_r_regionkey",
            "SELECT COUNT(*) FROM (SELECT r_regionkey FROM region GROUP BY 1 HAVING COUNT(*) > 1)"),
          sub("orders", "fk_o_custkey",
            "SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)"),
          sub("lineitem", "fk_l_orderkey",
            "SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)"),
          sub("lineitem", "fk_l_partkey",
            "SELECT COUNT(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)"),
          sub("customer", "fk_c_nationkey",
            "SELECT COUNT(*) FROM customer c WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)"),
          sub("nation", "fk_n_regionkey",
            "SELECT COUNT(*) FROM nation n WHERE n.n_regionkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, rule")
      }),

    // Sparse-banded ANN near-dup pairs — the scale-corrected twin of x11.
    // x11's pinned 12×3-bit banding cuts each band into only 8 buckets
    // (candidate volume ~N²/8 per band: all-pairs in disguise, the round-3
    // `weak`); at a realistic dedup threshold (cos >= 0.8) per-plane
    // agreement is ~0.80, so 8-bit bands keep band-level recall p^8 while
    // cutting each band into 256 buckets, and the 64-wide hot-bucket cap
    // bounds candidate volume at N·cap/2 per band BY CONSTRUCTION. The
    // oracle replays the identical banding + cap + verify, so the
    // candidate set is deterministic and hash-matched. (The testdata's
    // max off-diagonal cosine is ~0.51, so the verified pair set is
    // empty — the gate then proves the *absence* of >=0.8 pairs through
    // the full banded plan on both engines; x54 exercises the same
    // candidate core with non-empty output.)
    QueryDef(
      "x53_ann_pairs_sparse",
      (s, dir) => Similarity.annPairs(Tables(s, dir).embeddings, 0.8,
          Similarity.SparseBands, Similarity.SparseBandBits, Similarity.SparseBucketCap)
        .orderBy("vec_a", "vec_b"),
      Some(sparseCandSql +
        s"""
           |SELECT vec_a, vec_b, cosine FROM (
           |  SELECT c.vec_a, c.vec_b, list_dot_product(ea.emb, eb.emb) AS cosine
           |  FROM cand c
           |  JOIN e ea ON ea.vec_id = c.vec_a
           |  JOIN e eb ON eb.vec_id = c.vec_b) p
           |WHERE cosine >= 0.8 ORDER BY vec_a, vec_b""".stripMargin)),

    // Sparse-banded ANN top-1 neighbor join over the whole corpus — the
    // non-empty proof of the same candidate core: every vector that
    // collides with anything in any 256-bucket band gets its single best
    // candidate, exactly scored and deterministically ranked. Candidate
    // volume is sub-quadratic (~N²/256 per band before the cap, vs
    // x27's N²/8), so this is the shape that survives 100 TB.
    QueryDef(
      "x54_ann_topk_sparse",
      (s, dir) => Similarity.annTopK(Tables(s, dir).embeddings, 1,
          Similarity.SparseBands, Similarity.SparseBandBits, Similarity.SparseBucketCap)
        .orderBy("vec_id", "rank"),
      Some(sparseCandSql +
        s""", directed AS (
           |  SELECT vec_a AS vec_id, vec_b AS neighbor_id FROM cand
           |  UNION ALL
           |  SELECT vec_b, vec_a FROM cand
           |), scored AS (
           |  SELECT d.vec_id, d.neighbor_id, list_dot_product(ea.emb, eb.emb) AS score
           |  FROM directed d
           |  JOIN e ea ON ea.vec_id = d.vec_id
           |  JOIN e eb ON eb.vec_id = d.neighbor_id
           |)
           |SELECT vec_id, rank, neighbor_id, score FROM (
           |  SELECT vec_id, neighbor_id, score,
           |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, neighbor_id ASC) AS rank
           |  FROM scored) r
           |WHERE rank <= 1 ORDER BY vec_id, rank""".stripMargin)),

    // REAL image decode under the gate (closes the round-3 "last stub"):
    // each document gets a synthetic 8x8 raster whose pixels derive from
    // md5 (engine-neutral), encoded to actual PPM/BMP bytes, then parsed
    // back by the pure-JVM decoders — header grammar, comments, BMP's
    // bottom-up BGR rows and 4-byte padding and all — into exact integer
    // pixel stats. The oracle replays the *generator* arithmetic from the
    // hex digests: only a correct decode of the image bytes reproduces
    // it. x55 gates the PPM parser, x56 the BMP parser (identical stats
    // by construction — one oracle body, two decoders).
    QueryDef(
      "x55_image_stats_ppm",
      (s, dir) => graft.ext.Multimodal.imageStats(s,
        graft.ext.Multimodal.syntheticImages(Tables(s, dir).documents,
          fmt = graft.ext.Multimodal.PpmType)).orderBy("doc_id"),
      Some(imageStatsOracle)),

    QueryDef(
      "x56_image_stats_bmp",
      (s, dir) => graft.ext.Multimodal.imageStats(s,
        graft.ext.Multimodal.syntheticImages(Tables(s, dir).documents,
          fmt = graft.ext.Multimodal.BmpType)).orderBy("doc_id"),
      Some(imageStatsOracle)),

    // REAL frame sampling under the gate (Multimodal.frameSampleStats):
    // the "don't decode every frame" video-ingest step — parse the GVF1
    // frame container (magic + count + length-prefixed frames, all
    // bounds-checked), decode ONLY frames 0/2/4 of 6 through the real
    // PPM parser, aggregate exact integer stats over the sampled frames.
    // The oracle replays the generator pixels at exactly the sampled
    // frame indices, so sampling the wrong frames (or decoding a frame
    // slice at the wrong offset) flips the hash.
    QueryDef(
      "x223_frame_sample_stats",
      (s, dir) => graft.ext.Multimodal.frameSampleStats(s,
        graft.ext.Multimodal.syntheticVideos(Tables(s, dir).documents))
        .orderBy("doc_id"),
      Some {
        def ch(off: Int) =
          s"CAST(('0x' || substr(md5('vid_' || d.doc_id || '_' || fs.f || '_' || ys.y || '_' || xs.x), $off, 2)) AS BIGINT)"
        imageStatsSql(
          s"""  SELECT d.doc_id, ${ch(1)} AS r, ${ch(3)} AS g, ${ch(5)} AS b
             |  FROM documents d,
             |       (SELECT unnest([0, 2, 4]) AS f) fs,
             |       (SELECT unnest(generate_series(0, 3)) AS y) ys,
             |       (SELECT unnest(generate_series(0, 3)) AS x) xs""".stripMargin,
          "CAST(6 AS BIGINT) AS n_frames, CAST(3 AS BIGINT) AS n_sampled")
      }),

    // REAL image resize under the gate (Multimodal.resizeNearest): the
    // thumbnail/normalize step of an image-ingest pipeline, in exact
    // integer nearest-neighbor form — decode the PPM bytes, floor-map
    // 8x8 -> 5x3 (non-divisor target, so the index arithmetic matters),
    // and emit the TARGET raster's stats. The oracle replays the
    // generator pixels at the mapped source coords; a one-off in either
    // axis flips the hash.
    QueryDef(
      "x222_image_resize_stats",
      (s, dir) => graft.ext.Multimodal.resizeStats(s,
        graft.ext.Multimodal.syntheticImages(Tables(s, dir).documents,
          fmt = graft.ext.Multimodal.PpmType)).orderBy("doc_id"),
      Some(resizeStatsOracle)),

    // Perceptual image dedup (dHash): exposure-shifted copies of the
    // same base image (the planted near-dup family the generator builds)
    // collapse into one 56-bit difference-hash bucket via REAL PPM
    // decode; keep-first dedup per bucket, no pair join anywhere. The
    // oracle replays the generator+hash arithmetic from the md5 digests,
    // so only a correct decode AND a correct brightness-invariant hash
    // reproduce the buckets.
    QueryDef(
      "x209_perceptual_dedup",
      (s, dir) => graft.ext.Multimodal.perceptualDedup(s,
        graft.ext.Multimodal.syntheticNearDupImages(Tables(s, dir).documents)),
      Some {
        def ch(off: Int) =
          s"(CAST(('0x' || substr(md5('img_' || (d.doc_id % 64) || '_' || ys.y || '_' || xs.x), $off, 2)) AS BIGINT) * 7) // 8"
        s"""WITH px AS (
           |  SELECT d.doc_id, (d.doc_id // 64) % 32 AS off, ys.y, xs.x,
           |         ${ch(1)} AS r0, ${ch(3)} AS g0, ${ch(5)} AS b0
           |  FROM documents d,
           |       (SELECT unnest(generate_series(0, 7)) AS y) ys,
           |       (SELECT unnest(generate_series(0, 7)) AS x) xs
           |), lum AS (
           |  SELECT doc_id, y, x,
           |         (299*(r0 + off) + 587*(g0 + off) + 114*(b0 + off)) // 1000
           |           AS luma
           |  FROM px
           |), bits AS (
           |  SELECT a.doc_id, a.y, a.x,
           |         CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
           |  FROM lum a
           |  JOIN lum b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
           |  WHERE a.x < 7
           |), h AS (
           |  SELECT doc_id,
           |         CAST(SUM(CAST(bit AS BIGINT) * (1::BIGINT << (y*7 + x)))
           |           AS BIGINT) AS dhash
           |  FROM bits GROUP BY 1
           |)
           |SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n_images,
           |       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           |       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
           |FROM h GROUP BY 1 ORDER BY dhash""".stripMargin
      }),

    // NEAR-duplicate perceptual dedup (round-10 directive): x209's exact
    // buckets collapse only identical hashes, so a one-bit flip (crop,
    // noise, re-encode) defeats them. x212 runs the banded Hamming-ball
    // join over the DISTINCT hashes: 56 bits split into 4 disjoint
    // 14-bit segments (pigeonhole: Hamming <= 3 implies agreement on a
    // whole segment), equi-join per segment under the x66 hot-bucket
    // cap, exact bit_count(a XOR b) verify on candidates only — the
    // image analog of MinHash-LSH. The corpus is the noisy generator
    // (exposure shifts + a single-pixel luma bump on alternate copies),
    // and the oracle replays generator -> Rec.601 luma -> dHash ->
    // segment keys -> capped join -> popcount, so only a correct decode
    // AND a correct banding reproduce the pairs.
    QueryDef(
      "x212_perceptual_near_dedup",
      (s, dir) => graft.ext.Multimodal.perceptualNearDedup(s,
        graft.ext.Multimodal.syntheticNoisyImages(Tables(s, dir).documents)),
      Some {
        def ch(off: Int) =
          s"(CAST(('0x' || substr(md5('img_' || (d.doc_id % 64) || '_' || ys.y || '_' || xs.x), $off, 2)) AS BIGINT) * 3) // 4"
        s"""WITH px AS (
           |  SELECT d.doc_id, (d.doc_id // 64) % 32 AS off,
           |         CASE WHEN (d.doc_id // 64) % 2 = 1
           |                   AND xs.x = (d.doc_id % 64) % 8
           |                   AND ys.y = ((d.doc_id % 64) // 8) % 8
           |              THEN 24 ELSE 0 END AS bump,
           |         ys.y, xs.x,
           |         ${ch(1)} AS r0, ${ch(3)} AS g0, ${ch(5)} AS b0
           |  FROM documents d,
           |       (SELECT unnest(generate_series(0, 7)) AS y) ys,
           |       (SELECT unnest(generate_series(0, 7)) AS x) xs
           |), lum AS (
           |  SELECT doc_id, y, x,
           |         (299*(r0 + off + bump) + 587*(g0 + off + bump)
           |           + 114*(b0 + off + bump)) // 1000 AS luma
           |  FROM px
           |), bits AS (
           |  SELECT a.doc_id, a.y, a.x,
           |         CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
           |  FROM lum a
           |  JOIN lum b ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
           |  WHERE a.x < 7
           |), h AS (
           |  SELECT doc_id,
           |         CAST(SUM(CAST(bit AS BIGINT) * (1::BIGINT << (y*7 + x)))
           |           AS BIGINT) AS dhash
           |  FROM bits GROUP BY 1
           |), g AS (
           |  SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n_images,
           |         CAST(MIN(doc_id) AS BIGINT) AS keeper
           |  FROM h GROUP BY 1
           |), segs AS (
           |  SELECT dhash, s.s AS seg_idx,
           |         (dhash // (1::BIGINT << (14 * s.s))) % 16384 AS seg_key
           |  FROM g, (SELECT unnest(generate_series(0, 3)) AS s) s
           |), capped AS (
           |  SELECT seg_idx, seg_key, dhash FROM (
           |    SELECT *, COUNT(*) OVER (PARTITION BY seg_idx, seg_key) AS w
           |    FROM segs) t
           |  WHERE w <= 64
           |), cand AS (
           |  SELECT DISTINCT a.dhash AS dhash_a, b.dhash AS dhash_b
           |  FROM capped a JOIN capped b
           |    ON a.seg_idx = b.seg_idx AND a.seg_key = b.seg_key
           |   AND a.dhash < b.dhash
           |), p AS (
           |  SELECT dhash_a, dhash_b,
           |         CAST(bit_count(xor(dhash_a, dhash_b)) AS BIGINT) AS hamming
           |  FROM cand
           |)
           |SELECT p.dhash_a, p.dhash_b, p.hamming,
           |       ga.n_images AS n_images_a, gb.n_images AS n_images_b,
           |       ga.keeper AS keeper_a, gb.keeper AS keeper_b
           |FROM p
           |JOIN g ga ON ga.dhash = p.dhash_a
           |JOIN g gb ON gb.dhash = p.dhash_b
           |WHERE p.hamming <= 3
           |ORDER BY dhash_a, dhash_b""".stripMargin
      }),

    // LEARNED-centroid IVF under the gate (closes the round-3 "test-gated
    // only" carve-out): spherical k-means with grid-snapped centroids —
    // snap(x) = floor(x·1e6 + 0.5)/1e6 after each Lloyd step, every op
    // exactly-rounded IEEE, so Spark's distributed means and DuckDB's
    // single-threaded means land on the same grid point and the whole
    // train→assign loop is cross-engine bit-stable. The oracle unrolls
    // both Lloyd iterations as CTEs (assign → snapped means → normalize
    // → re-snap → re-assign), empty clusters keeping their previous
    // centroid via LEFT JOIN.
    QueryDef(
      "x57_kmeans_train_assign",
      (s, dir) => {
        val (_, labels) = Similarity.kMeans(Tables(s, dir).embeddings,
          KmK, KmIters, snapScale = 1e6)
        labels.select("vec_id", "cluster").orderBy("vec_id")
      },
      Some(kmeansCteSql +
        s"""
           |SELECT vec_id, cluster FROM a$KmIters ORDER BY vec_id""".stripMargin)),

    // ...and the search half over the learned cells: probe the nprobe
    // best centroids per query, brute-force only inside them — the full
    // train→assign→search IVF loop, all under one oracle.
    QueryDef(
      "x58_ivf_search_learned",
      (s, dir) => Similarity.ivfSearchLearned(Tables(s, dir).embeddings,
          0L until 10L, 5, KmK, 4, KmIters, 1e6)
        .orderBy("qid", "rank"),
      Some(kmeansCteSql +
        s""", q AS (
           |  SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10
           |), probe AS (
           |  SELECT qid, qemb, cluster FROM (
           |    SELECT q.qid, q.qemb, c.cid AS cluster,
           |           ROW_NUMBER() OVER (PARTITION BY q.qid
           |             ORDER BY list_dot_product(q.qemb, c.cemb) DESC, c.cid ASC) AS rn
           |    FROM q, c$KmIters c) r
           |  WHERE rn <= 4
           |), cand AS (
           |  SELECT p.qid, a.vec_id AS neighbor_id, list_dot_product(p.qemb, a.emb) AS score
           |  FROM probe p JOIN a$KmIters a ON a.cluster = p.cluster
           |  WHERE a.vec_id <> p.qid
           |)
           |SELECT qid, rank, neighbor_id FROM (
           |  SELECT qid, neighbor_id,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, neighbor_id ASC) AS rank
           |  FROM cand) r
           |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // JSONL interchange under the gate: the documents table writes to
    // sharded JSON-Lines, re-reads under the EXPLICIT schema with
    // _corrupt_record quarantine, and reduces to a per-document content
    // digest. The oracle computes the same digest straight from the
    // parquet — so a lossy escape, a truncated shard, a type widened by
    // the reader, or a quarantined line all flip rows or hashes. (The
    // write is an eager side effect into a fresh temp dir per run, like
    // the x35 MERGE sink.)
    QueryDef(
      "x59_jsonl_roundtrip",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        // Fixed per-sf path + overwrite mode: repeated runs (bench
        // medians, verify) reuse one directory instead of leaking a
        // corpus-sized temp copy per invocation. md5 of the dir, not
        // String.hashCode: 32-bit hashCode collisions would let two sf
        // dirs share (and race on) one gate directory, and .abs is
        // negative at Int.MinValue.
        val dirTag = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-jsonl-gate-$dirTag"
        graft.io.Jsonl.write(docs, tmp, shards = 4)
        // The doc_id conjunct keeps a DATA column referenced even when a
        // downstream count() prunes the projection — Spark disallows raw
        // JSON scans whose only referenced column is _corrupt_record.
        // Semantics unchanged: corrupt lines have doc_id NULL anyway.
        graft.io.Jsonl.read(s, tmp, docs.schema)
          .filter(col("_corrupt_record").isNull && col("doc_id").isNotNull)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            length(col("text")).cast("long").as("text_chars"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars,
             |       CAST(length(text) AS BIGINT) AS text_chars,
             |       md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // End-to-end embedding DEDUP: the x11 banded pair set contracted to
    // connected components (generic large-star/small-star loop shared
    // with x22) with the minimum vec_id canonical — "which vectors to
    // keep" rather than "which pairs collide". Oracle: recursive-CTE
    // transitive closure over the identical banded+verified pair SQL.
    // Iterative driver-synced loop → bench=false (timed in bench_diag
    // like x22).
    QueryDef(
      "x60_ann_clusters",
      (s, dir) => Similarity.annClusters(Tables(s, dir).embeddings, 0.4)
        .orderBy("vec_id"),
      Some {
        val base = bandCandSql(Similarity.AnnBands, Similarity.AnnBandBits, 0) +
          dupCteSql() + s""", sym AS (
             |  SELECT vec_a AS src, vec_b AS dst FROM dup
             |  UNION ALL
             |  SELECT vec_b, vec_a FROM dup
             |), reach(a, b) AS (
             |  SELECT vec_id, vec_id FROM embeddings
             |  UNION
             |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
             |)
             |SELECT a AS vec_id, MIN(b) AS cluster, MIN(b) = a AS is_canonical
             |FROM reach GROUP BY 1 ORDER BY vec_id""".stripMargin
        "WITH RECURSIVE" + base.stripPrefix("WITH")
      },
      bench = false),

    // Temperature-based source mixing (alpha = 0.5 via sqrt — exactly-
    // rounded IEEE, unlike pow): per-source keep rate
    // min(1, T*sqrt(c)/(sum sqrt(c) * c)) snapped to a 1e-9 grid (kills
    // the summation-order ulp in the weight sum), rows kept by the
    // salted id-hash uniform. Upsamples rare sources vs proportional —
    // the corpus-rebalance move of multilingual training-data assembly.
    QueryDef(
      "x61_temperature_mix",
      (s, dir) => Pipeline.temperatureMix(Tables(s, dir).documents, 200)
        .select("doc_id", "source", "rate")
        .orderBy("doc_id"),
      Some("""WITH counts AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY 1
             |), weighted AS (
             |  SELECT source, c, sqrt(c) AS w FROM counts
             |), s AS (
             |  SELECT SUM(w) AS wsum FROM weighted
             |), rates AS (
             |  SELECT source,
             |         FLOOR(LEAST(1.0, 200.0 * w / (wsum * c)) * 1000000000.0 + 0.5)
             |           / 1000000000.0 AS rate
             |  FROM weighted, s
             |)
             |SELECT d.doc_id, d.source, r.rate
             |FROM documents d JOIN rates r USING (source)
             |WHERE CAST(('0x' || substring(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |        / 4294967296.0 < r.rate
             |ORDER BY d.doc_id""".stripMargin)),

    // PII-style scrub: count + mask email-shaped and 7-plus-digit spans;
    // the md5 of the redacted text proves the replacement byte-exact.
    // Patterns stay inside the Java/RE2 common dialect.
    QueryDef(
      "x62_redaction",
      (s, dir) => TextAnalysis.redact(Tables(s, dir).documents).orderBy("doc_id"),
      Some(s"""WITH masked AS (
              |  SELECT doc_id, text,
              |         regexp_replace(text, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g') AS email_masked
              |  FROM documents
              |)
              |SELECT doc_id,
              |       CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) AS BIGINT) AS n_emails,
              |       CAST(len(regexp_extract_all(email_masked, '${TextAnalysis.LongNumberPattern}')) AS BIGINT) AS n_long_numbers,
              |       md5(regexp_replace(email_masked, '${TextAnalysis.LongNumberPattern}', '<NUM>', 'g')) AS redacted_md5
              |FROM masked ORDER BY doc_id""".stripMargin)),

    // Zone maps: the data-skipping metadata a 100 TB layout maintains
    // beside the data — per-zone (1000-key ranges here; row groups /
    // files in production) min/max/count for the prunable columns. A
    // reader answering `o_totalprice > X` or a date-range predicate
    // skips every zone whose bounds exclude it; io/Layout covers the
    // bucketing half of physical design, this is the statistics half.
    // One map-side-combined aggregate, no joins.
    QueryDef(
      "x63_zone_maps",
      (s, dir) => Tables(s, dir).orders
        .groupBy(expr("o_orderkey div 1000").as("zone"))
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("min_date"),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"))
        .orderBy("zone"),
      Some("""SELECT o_orderkey // 1000 AS zone,
             |       CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       MIN(o_totalprice) AS min_price,
             |       MAX(o_totalprice) AS max_price,
             |       strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
             |       strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
             |FROM orders GROUP BY 1 ORDER BY zone""".stripMargin)),

    // Rolling 7-day active users (the DAU/WAU series): each event
    // contributes to the 7 window-days it falls inside — a bounded
    // explode (x7) plus ONE distinct aggregate, the linear spelling of
    // sliding-window COUNT DISTINCT (a per-day self-join would rescan
    // the fact 7x; a global window cannot express distinct). Window days
    // clamp to the observed date range via a broadcast bounds row.
    QueryDef(
      "x64_rolling_wau",
      (s, dir) => {
        val ev = Tables(s, dir).events.select(to_date(col("ts")).as("d"), col("user_id"))
        val bounds = ev.agg(min(col("d")).as("mn"), max(col("d")).as("mx"))
        ev.select(explode(sequence(col("d"), date_add(col("d"), 6))).as("window_day"),
            col("user_id"))
          .crossJoin(broadcast(bounds))
          .filter(col("window_day").between(col("mn"), col("mx")))
          .groupBy("window_day")
          .agg(countDistinct(col("user_id")).as("wau"))
          .select(date_format(col("window_day"), "yyyy-MM-dd").as("window_day"), col("wau"))
          .orderBy("window_day")
      },
      Some("""WITH ev AS (
             |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, user_id FROM events
             |), bounds AS (
             |  SELECT MIN(d) AS mn, MAX(d) AS mx FROM ev
             |), contrib AS (
             |  SELECT d + CAST(i.i AS INTEGER) AS window_day, user_id
             |  FROM ev, (SELECT unnest(generate_series(0, 6)) AS i) i
             |)
             |SELECT strftime(window_day, '%Y-%m-%d') AS window_day,
             |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
             |FROM contrib, bounds
             |WHERE window_day BETWEEN mn AND mx
             |GROUP BY 1 ORDER BY window_day""".stripMargin)),

    // SCD type-2 MERGE (ops/Upsert.scd2) — history-preserving dimension
    // maintenance, the missing sibling of x35's last-write-wins SCD-1:
    // post-2000 big spenders get segment PREMIUM effective 2001-06-01;
    // their old rows CLOSE at that date, new current rows open, same-
    // payload updates are no-ops (no churn rows), inactive customers
    // pass through. One full-outer join of the open slice against the
    // update batch; closed history never touches the join.
    QueryDef(
      "x65_scd2_segments",
      (s, dir) => {
        val (_, _, merged) = scd2Fixture(Tables(s, dir))
        merged.orderBy("cust_id", "valid_from")
      },
      Some(Scd2OracleCtes +
        """
          |SELECT cust_id, segment, valid_from, valid_to FROM merged
          |ORDER BY cust_id, valid_from""".stripMargin)),

    // Benchmark decontamination (TextAnalysis.contamination): every
    // training document's distinct-8-gram overlap with the held-out eval
    // slice (doc_id % 10 = 7 stands in for the benchmark table). One
    // inverted-index equi-join on the gram string — never doc×doc; eval
    // grams dedup to one row per gram so per-gram fan-out is <= 1.
    QueryDef(
      "x67_contamination",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        TextAnalysis.contamination(
          docs.filter(col("doc_id") % 10 =!= 7),
          docs.filter(col("doc_id") % 10 === 7), n = 8)
          .orderBy("doc_id")
      },
      Some(raw"""WITH tok AS (
                |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
                |), g AS (
                |  SELECT DISTINCT doc_id,
                |         unnest(list_transform(generate_series(1, greatest(length(ts)-7, 1)),
                |                i -> array_to_string(ts[i:i+7], ' '))) AS gram
                |  FROM tok
                |), eg AS (
                |  SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7
                |), tr AS (
                |  SELECT * FROM g WHERE doc_id % 10 <> 7
                |)
                |SELECT tr.doc_id,
                |       CAST(COUNT(*) AS BIGINT) AS n_grams,
                |       CAST(COUNT(eg.gram) AS BIGINT) AS n_eval_grams,
                |       COUNT(eg.gram) > 0 AS contaminated
                |FROM tr LEFT JOIN eg ON tr.gram = eg.gram
                |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Per-source quota cap (Pipeline.sourceQuota): keep at most 15 docs
    // per source by salted-hash rank — the hard-cap mixing primitive
    // beside x43's stratified rates and x61's temperature rates. The
    // oracle replays the rank (same md5-uniform, same tiebreak) with a
    // window + filter.
    QueryDef(
      "x68_source_quota",
      (s, dir) => Pipeline.sourceQuota(Tables(s, dir).documents, 15)
        .select("doc_id", "source", "quota_rank")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source, quota_rank FROM (
             |  SELECT doc_id, source,
             |         CAST(ROW_NUMBER() OVER (
             |           PARTITION BY source
             |           ORDER BY CAST(('0x' || substring(md5('quota|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |                      / 4294967296.0,
             |                    doc_id) AS BIGINT) AS quota_rank
             |  FROM documents) t
             |WHERE quota_rank <= 15 ORDER BY doc_id""".stripMargin)),

    // End-to-end corpus curation (Pipeline.curate) — the capstone
    // composition: inline quality score -> exact-dedup canonical ->
    // quality threshold -> per-source quota -> deterministic split, as
    // ONE plan (two windows + projections, no self-joins). The oracle
    // replays each stage with the exact expression trees the individual
    // gates (x02, x05, x68, x26) already proved bit-stable.
    QueryDef(
      "x69_curation_pipeline",
      (s, dir) => Pipeline.curate(Tables(s, dir).documents,
          minQuality = 0.5, quota = 15, trainFrac = 0.8, valFrac = 0.1)
        .orderBy("doc_id"),
      Some {
        val stopList = TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(", ")
        raw"""WITH t AS (
             |  SELECT doc_id, source, text,
             |         string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents
             |), m AS (
             |  SELECT doc_id, source, text,
             |    0.4 * (CAST(length(list_filter(ts, x -> x IN ($stopList))) AS DOUBLE) / length(ts))
             |    + 0.3 * (1.0 - CAST(length(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
             |                     / greatest(length(text), 1))
             |    + 0.3 * least(1.0, CAST(length(ts) AS DOUBLE) / 100.0) AS quality_score
             |  FROM t
             |), surv AS (
             |  SELECT doc_id, source, quality_score FROM m
             |  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
             |          AND quality_score >= 0.5
             |), ranked AS (
             |  SELECT doc_id, source, quality_score,
             |         CAST(ROW_NUMBER() OVER (
             |           PARTITION BY source
             |           ORDER BY CAST(('0x' || substring(md5('quota|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |                      / 4294967296.0,
             |                    doc_id) AS BIGINT) AS quota_rank
             |  FROM surv
             |)
             |SELECT doc_id, source, quality_score, quota_rank,
             |       CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
             |FROM (
             |  SELECT *, CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |              / 4294967296.0 AS u
             |  FROM ranked) z
             |WHERE quota_rank <= 15 ORDER BY doc_id""".stripMargin
      }),

    // Product-quantization encode (Similarity.pqCodes): 64 floats -> 8
    // codes against the pinned sub-codebooks, plus exact reconstruction
    // stats — the 32x index-compression codec of a 100 TB vector store.
    // d² decisions and both error stats are dot-product folds combined by
    // exactly-rounded ops, so the oracle replays encode byte-exactly.
    QueryDef(
      "x70_pq_encode",
      (s, dir) => Similarity.pqCodes(Tables(s, dir).embeddings).orderBy("vec_id"),
      Some(pqCteSql +
        """, codes AS (
          |  SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY s) AS code_csv
          |  FROM enc GROUP BY 1
          |)
          |SELECT e.vec_id, codes.code_csv,
          |       list_dot_product(e.emb, r.recon) AS recon_dot,
          |       list_dot_product(e.emb, e.emb) + list_dot_product(r.recon, r.recon)
          |         - 2.0 * list_dot_product(e.emb, r.recon) AS sq_err
          |FROM e JOIN codes USING (vec_id) JOIN rec r USING (vec_id)
          |ORDER BY vec_id""".stripMargin)),

    // Asymmetric-distance (ADC) top-k over the PQ codes (x70's index):
    // exact queries scored against reconstructed database vectors — the
    // search half of the codec. The score is ONE sequential-fold dot
    // product against the concatenated codewords, bit-stable cross-engine.
    QueryDef(
      "x71_pq_adc_search",
      (s, dir) => Similarity.pqSearch(Tables(s, dir).embeddings, 0L until 10L, 5)
        .orderBy("qid", "rank"),
      Some(pqCteSql +
        """, q AS (
          |  SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10
          |), scored AS (
          |  SELECT q.qid, r.vec_id AS neighbor_id,
          |         list_dot_product(q.qemb, r.recon) AS adc_score
          |  FROM q, rec r WHERE r.vec_id <> q.qid
          |)
          |SELECT qid, rank, neighbor_id, adc_score FROM (
          |  SELECT qid, neighbor_id, adc_score,
          |         ROW_NUMBER() OVER (PARTITION BY qid
          |           ORDER BY adc_score DESC, neighbor_id ASC) AS rank
          |  FROM scored) r
          |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Duplicate n-gram coverage (TextAnalysis.duplicateGramCoverage) —
    // the exact-substring-dedup metric (Lee et al. 2022): the fraction of
    // each document's distinct 8-grams that occur in >= 2 documents.
    // Inverted-index equi-join on the gram, never doc×doc.
    QueryDef(
      "x72_dup_gram_coverage",
      (s, dir) => TextAnalysis.duplicateGramCoverage(Tables(s, dir).documents, n = 8)
        .orderBy("doc_id"),
      Some(raw"""WITH tok AS (
                |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
                |), g AS (
                |  SELECT DISTINCT doc_id,
                |         unnest(list_transform(generate_series(1, greatest(length(ts)-7, 1)),
                |                i -> array_to_string(ts[i:i+7], ' '))) AS gram
                |  FROM tok
                |), dfreq AS (
                |  SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY 1
                |)
                |SELECT g.doc_id,
                |       CAST(COUNT(*) AS BIGINT) AS n_grams,
                |       CAST(SUM(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
                |       CAST(SUM(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                |         / CAST(COUNT(*) AS DOUBLE) AS dup_frac
                |FROM g JOIN dfreq USING (gram)
                |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Fixed-point integer PageRank (ops.PageRank) over the banded ANN
    // near-dup graph: document centrality in the similarity graph,
    // 3 unrolled power-iteration rounds in pure BIGINT arithmetic — the
    // one numeric contract under which distributed PageRank is
    // bit-deterministic regardless of aggregation order. The oracle
    // replays the identical banded edges and each integer round.
    //
    // SPARSE capped banding (round-12 scale fix, closing the verdict's
    // dense-preset residual): the dense 12x3-bit uncapped preset probed
    // at exponent 0.72 under 10x duplication and its 3-bit key space
    // saturates at production vector counts — every bucket goes hot and
    // the candidate join tends quadratic. The sparse 8x8-bit preset's
    // hot-bucket cap bounds any vector's candidate list regardless of
    // duplication (the x110/x123 round-11 re-banding, now applied to
    // the whole PageRank family so the trio + BFS keep sharing ONE
    // memoized verified-pair set).
    QueryDef(
      "x73_pagerank",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        val dup = Similarity.annPairs(emb, 0.4,
          Similarity.SparseBands, Similarity.SparseBandBits, Similarity.SparseBucketCap)
        val edges = dup.select(col("vec_a").as("src"), col("vec_b").as("dst"))
          .union(dup.select(col("vec_b").as("src"), col("vec_a").as("dst")))
        graft.ops.PageRank.pagerank(edges, emb.select(col("vec_id").as("id")), 3)
          .select(col("id").as("vec_id"), col("rank"))
          .orderBy("vec_id")
      },
      Some {
        val base = bandCandSql(Similarity.SparseBands, Similarity.SparseBandBits,
          Similarity.SparseBucketCap) +
          dupCteSql() + """, sym AS (
            |  SELECT vec_a AS src, vec_b AS dst FROM dup
            |  UNION ALL
            |  SELECT vec_b, vec_a FROM dup
            |), deg AS (
            |  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM sym GROUP BY 1
            |), r0 AS (
            |  SELECT vec_id AS id, CAST(1000000000 AS BIGINT) AS rank FROM embeddings
            |)""".stripMargin
        val iters = (1 to 3).map { i =>
          s""", r$i AS (
             |  SELECT v.vec_id AS id,
             |         CAST(150000000 + (85 * COALESCE(t.insum, 0)) // 100 AS BIGINT) AS rank
             |  FROM embeddings v LEFT JOIN (
             |    SELECT e2.dst, SUM(r.rank // d.outdeg) AS insum
             |    FROM sym e2
             |    JOIN r${i - 1} r ON r.id = e2.src
             |    JOIN deg d ON d.src = e2.src
             |    GROUP BY 1) t ON t.dst = v.vec_id
             |)""".stripMargin
        }.mkString
        base + iters + "\nSELECT id AS vec_id, rank FROM r3 ORDER BY vec_id"
      }),

    // BM25 keyword retrieval (TextAnalysis.bm25) — the query-relevance
    // scorer of domain-targeted corpus selection. tf/df/dl/N are exact
    // integers aggregated in one corpus pass + one broadcast row; idf
    // snaps to the 1e-9 grid (ln is not cross-engine correctly rounded —
    // measured), per-term scores combine in fixed term order.
    QueryDef(
      "x74_bm25",
      (s, dir) => TextAnalysis.bm25(Tables(s, dir).documents,
        Seq("customer", "stream", "window")).orderBy("doc_id"),
      Some(bm25OracleSql(Seq("customer", "stream", "window"), 1.2, 0.75))),

    // TRAINED PQ codebooks under the gate (closes the round-5 "pinned,
    // not trained" carve-out the way x57/x58 closed it for IVF): L2
    // Lloyd over all 8 subspaces jointly — one assignment pass + one
    // (s, code, dim) mean aggregate per iteration, means snapped to the
    // 1e6 grid so Spark's distributed means and DuckDB's serial means
    // land on identical bits. The oracle unrolls both Lloyd steps as
    // CTE blocks (assign → snapped means → coalesce empty codewords →
    // re-assign), then replays encode + reconstruction exactly like x70.
    QueryDef(
      "x75_pq_train_encode",
      (s, dir) => Similarity.pqCodesTrained(Tables(s, dir).embeddings)
        .orderBy("vec_id"),
      Some(pqTrainedCteSql +
        """, codes AS (
          |  SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY s) AS code_csv
          |  FROM encf GROUP BY 1
          |)
          |SELECT e.vec_id, codes.code_csv,
          |       list_dot_product(e.emb, r.recon) AS recon_dot,
          |       list_dot_product(e.emb, e.emb) + list_dot_product(r.recon, r.recon)
          |         - 2.0 * list_dot_product(e.emb, r.recon) AS sq_err
          |FROM e JOIN codes USING (vec_id) JOIN rec r USING (vec_id)
          |ORDER BY vec_id""".stripMargin)),

    // ADC + exact re-rank (the recall-restoration pass promised by the
    // pqSearch contract): the compressed index nominates top-20 by ADC
    // score, only those 20·|Q| rows touch exact vectors for the true
    // dot-product top-5. Candidates broadcast into the vector join —
    // the corpus never shuffles for the exact pass.
    QueryDef(
      "x76_pq_search_reranked",
      (s, dir) => Similarity.pqSearchReranked(Tables(s, dir).embeddings,
        0L until 10L, 5, rerank = 20).orderBy("qid", "rank"),
      Some(pqCteSql +
        """, q AS (
          |  SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10
          |), scored AS (
          |  SELECT q.qid, r.vec_id AS neighbor_id,
          |         list_dot_product(q.qemb, r.recon) AS adc_score
          |  FROM q, rec r WHERE r.vec_id <> q.qid
          |), cand AS (
          |  SELECT qid, neighbor_id FROM (
          |    SELECT qid, neighbor_id,
          |           ROW_NUMBER() OVER (PARTITION BY qid
          |             ORDER BY adc_score DESC, neighbor_id ASC) AS rn
          |    FROM scored) r
          |  WHERE rn <= 20
          |), ex AS (
          |  SELECT c.qid, c.neighbor_id, list_dot_product(q.qemb, e.emb) AS score
          |  FROM cand c JOIN q ON q.qid = c.qid JOIN e ON e.vec_id = c.neighbor_id
          |)
          |SELECT qid, rank, neighbor_id, score FROM (
          |  SELECT qid, neighbor_id, score,
          |         ROW_NUMBER() OVER (PARTITION BY qid
          |           ORDER BY score DESC, neighbor_id ASC) AS rank
          |  FROM ex) r
          |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Mass-CONSERVING fixed-point PageRank (the teleport-redistribution
    // variant x73's scaladoc names): dangling vertices — every isolated
    // vector in the near-dup graph — redistribute their rank uniformly
    // via ONE extra scalar aggregate per round instead of evaporating.
    // Still pure BIGINT arithmetic, so the oracle replays every round
    // bit-exactly, dangling share included. Sparse capped banding with
    // the rest of the PageRank family (round 12, see x73): same edge
    // build as x73/x91/x137, so all four share ONE memoized
    // verified-pair set per session.
    QueryDef(
      "x77_pagerank_conserving",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        val dup = Similarity.annPairs(emb, 0.4,
          Similarity.SparseBands, Similarity.SparseBandBits, Similarity.SparseBucketCap)
        val edges = dup.select(col("vec_a").as("src"), col("vec_b").as("dst"))
          .union(dup.select(col("vec_b").as("src"), col("vec_a").as("dst")))
        graft.ops.PageRank.pagerankConserving(edges,
          emb.select(col("vec_id").as("id")), 3)
          .select(col("id").as("vec_id"), col("rank"))
          .orderBy("vec_id")
      },
      Some {
        val base = bandCandSql(Similarity.SparseBands, Similarity.SparseBandBits,
          Similarity.SparseBucketCap) +
          dupCteSql() + """, sym AS (
            |  SELECT vec_a AS src, vec_b AS dst FROM dup
            |  UNION ALL
            |  SELECT vec_b, vec_a FROM dup
            |), deg AS (
            |  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM sym GROUP BY 1
            |), nv AS (
            |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
            |), r0 AS (
            |  SELECT vec_id AS id, CAST(1000000000 AS BIGINT) AS rank FROM embeddings
            |)""".stripMargin
        val iters = (1 to 3).map { i =>
          s""", d$i AS (
             |  SELECT COALESCE(SUM(r.rank), 0) // (SELECT n FROM nv) AS dshare
             |  FROM r${i - 1} r LEFT JOIN deg d ON d.src = r.id
             |  WHERE d.src IS NULL
             |), r$i AS (
             |  SELECT v.vec_id AS id,
             |         CAST(150000000 + (85 * (COALESCE(t.insum, 0)
             |           + (SELECT dshare FROM d$i))) // 100 AS BIGINT) AS rank
             |  FROM embeddings v LEFT JOIN (
             |    SELECT e2.dst, SUM(r.rank // d.outdeg) AS insum
             |    FROM sym e2
             |    JOIN r${i - 1} r ON r.id = e2.src
             |    JOIN deg d ON d.src = e2.src
             |    GROUP BY 1) t ON t.dst = v.vec_id
             |)""".stripMargin
        }.mkString
        base + iters + "\nSELECT id AS vec_id, rank FROM r3 ORDER BY vec_id"
      }),

    // Bigram-LM document scoring (TextAnalysis.lmScore) — the CCNet
    // perplexity-bucket quality signal: a Laplace-smoothed bigram LM
    // trained on the corpus itself, each doc scored by mean token
    // log-likelihood. Per-bigram ln() snaps to the 1e-9 grid AS A
    // FIXED-POINT BIGINT, so per-doc sums are exact integer arithmetic —
    // order-free where a double sum would drift (the x61/x73 trick).
    QueryDef(
      "x78_lm_score",
      (s, dir) => TextAnalysis.lmScore(Tables(s, dir).documents)
        .orderBy("doc_id"),
      Some(raw"""WITH tok AS (
                |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
                |), pos AS (
                |  SELECT doc_id, ts, unnest(generate_series(1, length(ts)-1)) AS i
                |  FROM tok WHERE length(ts) >= 2
                |), big AS (
                |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2 FROM pos
                |), bc AS (
                |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM big GROUP BY 1, 2
                |), fc AS (
                |  SELECT w1, CAST(COUNT(*) AS BIGINT) AS cf FROM big GROUP BY 1
                |), vocab AS (
                |  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
                |  FROM (SELECT unnest(ts) AS w FROM tok)
                |), scored AS (
                |  SELECT b.doc_id,
                |         CAST(FLOOR(ln((CAST(bc.cb AS DOUBLE) + 1.0)
                |           / (CAST(fc.cf AS DOUBLE) + CAST(vocab.v AS DOUBLE))) * 1.0E9 + 0.5)
                |           AS BIGINT) AS lp_fp
                |  FROM big b JOIN bc USING (w1, w2) JOIN fc USING (w1) CROSS JOIN vocab
                |), agg AS (
                |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                |         CAST(SUM(lp_fp) AS BIGINT) AS sum_lp_fp
                |  FROM scored GROUP BY 1
                |)
                |SELECT d.doc_id,
                |       COALESCE(a.n_bigrams, 0) AS n_bigrams,
                |       CAST(a.sum_lp_fp AS DOUBLE) / 1.0E9 / CAST(a.n_bigrams AS DOUBLE) AS avg_logp,
                |       FLOOR(exp(-(CAST(a.sum_lp_fp AS DOUBLE) / 1.0E9
                |         / CAST(a.n_bigrams AS DOUBLE))) * 1.0E9 + 0.5) / 1.0E9 AS ppl
                |FROM documents d LEFT JOIN agg a USING (doc_id)
                |ORDER BY doc_id""".stripMargin)),

    // IVF-PQ search (Similarity.ivfPqSearch — FAISS's IVFADC layout):
    // coarse quantizer routes vectors to cells, PQ encodes the RESIDUAL
    // emb − centroid, search probes nprobe cells and scores
    // q·centroid + q·recon(residual). The composition that holds a
    // 100 TB index: probe prunes the corpus, the in-cell scan reads 8
    // codes per row, both codebooks broadcast.
    QueryDef(
      "x79_ivfpq_search",
      (s, dir) => Similarity.ivfPqSearch(Tables(s, dir).embeddings,
        0L until 10L, 5).orderBy("qid", "rank"),
      Some(ivfPqOracleSql)),

    // Quality-weighted sampling without replacement (Pipeline
    // .weightedSample — Efraimidis-Spirakis A-ES): the k smallest
    // −ln(u)/w keys win, u from the deterministic id-hash, w from the
    // shared x02 quality expression. Spark executes the global top-k as
    // TakeOrderedAndProject (per-partition heaps, no corpus shuffle);
    // keys snap to 1e-9 fixed point so the draw replays bit-exactly.
    QueryDef(
      "x80_weighted_sample",
      (s, dir) => Pipeline.weightedSample(Tables(s, dir).documents,
        TextAnalysis.qualityScoreExpr, 100).orderBy("doc_id"),
      Some {
        val stopList = TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(", ")
        raw"""WITH t AS (
             |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS ts FROM documents
             |), m AS (
             |  SELECT doc_id, length(ts) AS n_tokens,
             |    CAST(length(list_filter(ts, x -> x IN ($stopList))) AS DOUBLE) / length(ts) AS stopword_ratio,
             |    CAST(length(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) AS special_ratio
             |  FROM t
             |), wts AS (
             |  SELECT doc_id,
             |    0.4 * stopword_ratio + 0.3 * (1.0 - special_ratio) +
             |    0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) AS w
             |  FROM m
             |), keyed AS (
             |  SELECT doc_id, w,
             |    CAST(FLOOR((-ln((CAST(('0x' || substring(md5('wsamp|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
             |      / 4294967296.0) / w) * 1.0E9 + 0.5) AS BIGINT) AS es_key_fp
             |  FROM wts WHERE w > 0
             |)
             |SELECT doc_id, w, es_key_fp FROM keyed
             |ORDER BY es_key_fp, doc_id LIMIT 100""".stripMargin
      }),

    // Triangle census of the near-dup graph (ops.Graph.triangleStats):
    // per-vector degree, triangle count, local clustering coefficient —
    // the neighborhood-density signal that separates a near-dup CLUSTER
    // (triangle-dense) from a topical neighborhood (sparse). Each
    // triangle enumerates once as the ordered wedge a<b<c.
    QueryDef(
      "x81_triangle_census",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        val edges = Similarity.annPairs(emb, 0.4)
          .select(col("vec_a").as("src"), col("vec_b").as("dst"))
        graft.ops.Graph.triangleStats(edges, emb.select(col("vec_id").as("id")))
          .select(col("id").as("vec_id"), col("degree"), col("triangles"),
            col("clustering_coeff"))
          .orderBy("vec_id")
      },
      Some(bandCandSql(Similarity.AnnBands, Similarity.AnnBandBits, 0) +
        dupCteSql() + """, deg AS (
          |  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
          |    SELECT vec_a AS id FROM dup UNION ALL SELECT vec_b FROM dup) u
          |  GROUP BY 1
          |), tri AS (
          |  SELECT e1.vec_a AS a, e1.vec_b AS b, e2.vec_b AS c
          |  FROM dup e1
          |  JOIN dup e2 ON e2.vec_a = e1.vec_b
          |  JOIN dup e3 ON e3.vec_a = e1.vec_a AND e3.vec_b = e2.vec_b
          |), pv AS (
          |  SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
          |    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
          |    UNION ALL SELECT c FROM tri) u
          |  GROUP BY 1
          |)
          |SELECT v.vec_id,
          |       COALESCE(d.degree, 0) AS degree,
          |       COALESCE(p.triangles, 0) AS triangles,
          |       CASE WHEN COALESCE(d.degree, 0) >= 2 THEN
          |         2.0 * CAST(COALESCE(p.triangles, 0) AS DOUBLE)
          |           / (CAST(d.degree AS DOUBLE) * (CAST(d.degree AS DOUBLE) - 1.0))
          |       END AS clustering_coeff
          |FROM embeddings v
          |LEFT JOIN deg d ON d.id = v.vec_id
          |LEFT JOIN pv p ON p.id = v.vec_id
          |ORDER BY vec_id""".stripMargin)),

    // HITS hubs/authorities (ops.Graph.hits) over the near-dup graph
    // oriented low-id -> high-id: fixed-point BIGINT rounds with integer
    // max-renormalization (x·base DIV max as a broadcast scalar), so the
    // oracle replays both rounds exactly. Hubs and authorities diverge
    // under the acyclic orientation — the interesting case.
    QueryDef(
      "x82_hits",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        val edges = Similarity.annPairs(emb, 0.4)
          .select(col("vec_a").as("src"), col("vec_b").as("dst"))
        graft.ops.Graph.hits(edges, emb.select(col("vec_id").as("id")), 2)
          .select(col("id").as("vec_id"), col("hub"), col("auth"))
          .orderBy("vec_id")
      },
      Some(hitsOracleSql)),

    // Engine-native session windows: Spark's session_window aggregate
    // (dynamic-gap session assignment inside the aggregation operator —
    // the streaming-ready formulation) cross-validated against the
    // LAG-cumulative-sum spelling x15 uses. Window semantics: a new
    // session starts when the gap is >= 30 min (x15's flag uses strict >;
    // at microsecond resolution the boundary case never fires in this
    // data, but the oracle encodes the session_window convention).
    // Emitted as epoch micros so the gate compares integers.
    QueryDef(
      "x83_session_windows",
      (s, dir) => Tables(s, dir).events
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          unix_micros(col("sw.end")).as("session_end_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us"),
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events
             |), flg AS (
             |  SELECT user_id, tus,
             |         CASE WHEN tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus) >= 1800000000
             |              THEN 1 ELSE 0 END AS f
             |  FROM ev
             |), sess AS (
             |  SELECT user_id, tus,
             |         SUM(f) OVER (PARTITION BY user_id ORDER BY tus
             |                      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flg
             |)
             |SELECT user_id,
             |       MIN(tus) AS session_start_us,
             |       MAX(tus) + 1800000000 AS session_end_us,
             |       CAST(COUNT(*) AS BIGINT) AS n_events
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start_us""".stripMargin)),

    // Johnson-Lindenstrauss ±1 random projection (Similarity
    // .randomProject, Achlioptas 2003): 64 -> 16 dims against the same
    // MD5-derived planes the LSH family uses; 1/sqrt(16) scaling is an
    // exact power of two, every coordinate a sequential-fold dot product
    // — bit-identical cross-engine, compared as raw doubles in long form.
    QueryDef(
      "x84_random_projection",
      (s, dir) => Similarity.randomProject(Tables(s, dir).embeddings)
        .orderBy("vec_id", "j"),
      Some {
        val yExprs = (0 until 16).map(j =>
          s"list_dot_product(emb, ${Similarity.planesSqlLiteral(j)}) * 0.25 AS y$j")
          .mkString(",\n         ")
        val l2 = (0 until 16).map(j => s"y$j * y$j").mkString(" + ")
        val ylist = (0 until 16).map(j => s"y$j").mkString("[", ", ", "]")
        s"""WITH e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
           |), proj AS (
           |  SELECT vec_id,
           |         $yExprs
           |  FROM e
           |), l AS (
           |  SELECT vec_id, $l2 AS l2_sq, $ylist AS ylist FROM proj
           |)
           |SELECT vec_id, CAST(u.j AS INT) AS j, ylist[u.j + 1] AS y, l2_sq
           |FROM l CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) u
           |ORDER BY vec_id, j""".stripMargin
      }),

    // Snapshot diff / CDC derivation (ops.Upsert.snapshotDiff — the
    // inverse of the x35 MERGE): two deterministic versions of orders
    // (v2 drops keys % 7, adds back keys % 10, bumps prices on keys % 5)
    // diffed into the insert/delete/update changelog in ONE full-outer
    // join with null-safe payload compare; deletes carry the old image.
    QueryDef(
      "x85_snapshot_diff",
      (s, dir) => {
        val base = Tables(s, dir).orders
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        val oldSnap = base.filter(col("o_orderkey") % 10 =!= 0)
        val newSnap = base.filter(col("o_orderkey") % 7 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")))
        graft.ops.Upsert.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
          .orderBy("o_orderkey")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
             |), olds AS (
             |  SELECT * FROM base WHERE o_orderkey % 10 <> 0
             |), news AS (
             |  SELECT o_orderkey, o_custkey, o_orderstatus,
             |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
             |              ELSE o_totalprice END AS o_totalprice
             |  FROM base WHERE o_orderkey % 7 <> 0
             |), j AS (
             |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             |         o.o_orderkey IS NOT NULL AS in_old,
             |         n.o_orderkey IS NOT NULL AS in_new,
             |         o.o_custkey AS oc, o.o_orderstatus AS os, o.o_totalprice AS ot,
             |         n.o_custkey AS nc, n.o_orderstatus AS ns, n.o_totalprice AS nt
             |  FROM olds o FULL OUTER JOIN news n ON n.o_orderkey = o.o_orderkey
             |), d AS (
             |  SELECT o_orderkey,
             |         CASE WHEN NOT in_old THEN 'insert'
             |              WHEN NOT in_new THEN 'delete'
             |              WHEN (oc IS DISTINCT FROM nc) OR (os IS DISTINCT FROM ns)
             |                   OR (ot IS DISTINCT FROM nt) THEN 'update'
             |              ELSE 'unchanged' END AS action,
             |         in_old, in_new, oc, os, ot, nc, ns, nt
             |  FROM j
             |)
             |SELECT o_orderkey, action,
             |       CASE WHEN action = 'delete' THEN oc ELSE nc END AS o_custkey,
             |       CASE WHEN action = 'delete' THEN os ELSE ns END AS o_orderstatus,
             |       CASE WHEN action = 'delete' THEN ot ELSE nt END AS o_totalprice
             |FROM d WHERE action <> 'unchanged'
             |ORDER BY o_orderkey""".stripMargin)),

    // EXACT set-similarity self-join with PPJoin prefix filtering
    // (Dedup.prefixJaccardPairs) — the lossless complement to LSH
    // banding: docs with Jaccard >= 3/5 must share a token among their
    // n - ceil(3n/5) + 1 globally-rarest tokens, so candidates come from
    // a prefix-token equi-join (hot tokens never enter a prefix). All
    // pruning is integer arithmetic (prefix length by integer ceil, the
    // threshold by cross-multiplication), so no float boundary can shift
    // a pair in either engine. bench=false: on THIS templated corpus
    // every doc resembles every other (59% of all pairs clear 0.6), so
    // prefix pruning degenerates to near-all-pairs — same diag-only
    // status as x09's exact path; on a natural corpus the prefix join
    // is the scalable exact spelling.
    QueryDef(
      "x86_prefix_jaccard",
      (s, dir) => graft.ext.Dedup.prefixJaccardPairs(Tables(s, dir).documents)
        .orderBy("doc_a", "doc_b"),
      Some(raw"""WITH tok AS (
                |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                |  FROM documents
                |), sizes AS (
                |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1
                |), df AS (
                |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY 1
                |), pre AS (
                |  SELECT t.doc_id, t.tok FROM (
                |    SELECT t.doc_id, t.tok, s.n,
                |           ROW_NUMBER() OVER (PARTITION BY t.doc_id
                |             ORDER BY d.df ASC, t.tok ASC) AS rnk
                |    FROM tok t JOIN df d USING (tok) JOIN sizes s USING (doc_id)) t
                |  WHERE rnk <= n - ((3 * n + 4) // 5) + 1
                |), cand AS (
                |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
                |), inter AS (
                |  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
                |  FROM cand c
                |  JOIN tok ta ON ta.doc_id = c.doc_a
                |  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
                |  GROUP BY 1, 2
                |)
                |SELECT i.doc_a, i.doc_b, sa.n AS n_a, sb.n AS n_b, i.inter,
                |       CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
                |FROM inter i
                |JOIN sizes sa ON sa.doc_id = i.doc_a
                |JOIN sizes sb ON sb.doc_id = i.doc_b
                |WHERE 5 * i.inter >= 3 * (sa.n + sb.n - i.inter)
                |ORDER BY doc_a, doc_b""".stripMargin),
      bench = false),

    // SCD-2 time travel (ops.Upsert.asOfSnapshot) — the READ path of the
    // x65 history: reconstruct the segment table as of two probe dates,
    // one before the merge (original segments) and one exactly AT the
    // merge's effective date. The latter pins the half-open interval
    // convention: rows closed at 2001-06-01 are excluded, rows opened
    // then are included — no overlap, no gap, at the boundary itself.
    QueryDef(
      "x87_scd2_asof",
      (s, dir) => {
        val (_, _, merged) = scd2Fixture(Tables(s, dir))
        graft.ops.Upsert.asOfSnapshot(merged, "2000-06-01")
          .withColumn("as_of", lit("2000-06-01"))
          .unionByName(graft.ops.Upsert.asOfSnapshot(merged, "2001-06-01")
            .withColumn("as_of", lit("2001-06-01")))
          .orderBy("as_of", "cust_id")
      },
      Some(Scd2OracleCtes +
        """
          |SELECT cust_id, segment, as_of FROM (
             |  SELECT cust_id, segment, '2000-06-01' AS as_of FROM merged
             |  WHERE valid_from <= '2000-06-01'
             |    AND (valid_to IS NULL OR valid_to > '2000-06-01')
             |  UNION ALL
             |  SELECT cust_id, segment, '2001-06-01' FROM merged
             |  WHERE valid_from <= '2001-06-01'
             |    AND (valid_to IS NULL OR valid_to > '2001-06-01')
             |) ORDER BY as_of, cust_id""".stripMargin)),

    // ANN quality under the gate (Similarity.annRecall): recall@5 and
    // the true-top-1 reciprocal rank of the REGISTERED annTopK path
    // against exact brute-force ground truth, per query — the number an
    // ANN deployment tunes bands/bits/cap against. The oracle replays
    // both sides: x27's banded CTE chain for the index, a per-query
    // exact window for the truth.
    QueryDef(
      "x89_ann_recall",
      (s, dir) => Similarity.annRecall(Tables(s, dir).embeddings,
        0L until 10L, 5).orderBy("qid"),
      Some {
        val bandSelects = (0 until Similarity.AnnBands).map { b =>
          val key = (0 until Similarity.AnnBandBits).map { j =>
            val lit = Similarity.planesSqlLiteral(b * Similarity.AnnBandBits + j)
            s"CASE WHEN list_dot_product(emb, $lit) > 0 THEN ${1 << j} ELSE 0 END"
          }.mkString(" + ")
          s"SELECT vec_id, $b AS band_idx, $key AS band_key FROM e"
        }.mkString("\n  UNION ALL ")
        s"""WITH e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
           |), bands AS (
           |  $bandSelects
           |), cand AS (
           |  SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id <> b.vec_id
           |  WHERE a.vec_id < 10
           |), approx AS (
           |  SELECT vec_id AS qid, neighbor_id, rank AS arank FROM (
           |    SELECT c.vec_id, c.neighbor_id,
           |           ROW_NUMBER() OVER (PARTITION BY c.vec_id
           |             ORDER BY list_dot_product(ea.emb, eb.emb) DESC, c.neighbor_id ASC) AS rank
           |    FROM cand c
           |    JOIN e ea ON ea.vec_id = c.vec_id
           |    JOIN e eb ON eb.vec_id = c.neighbor_id) r
           |  WHERE rank <= 5
           |), q AS (
           |  SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10
           |), truth AS (
           |  SELECT qid, neighbor_id, rank FROM (
           |    SELECT q.qid, e.vec_id AS neighbor_id,
           |           ROW_NUMBER() OVER (PARTITION BY q.qid
           |             ORDER BY list_dot_product(q.qemb, e.emb) DESC, e.vec_id ASC) AS rank
           |    FROM q, e WHERE e.vec_id <> q.qid) r
           |  WHERE rank <= 5
           |), hits AS (
           |  SELECT t.qid,
           |         CAST(SUM(CASE WHEN a.arank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           |         CAST(COUNT(*) AS BIGINT) AS n_truth
           |  FROM truth t LEFT JOIN approx a
           |    ON a.qid = t.qid AND a.neighbor_id = t.neighbor_id
           |  GROUP BY 1
           |), rr AS (
           |  SELECT t.qid, COALESCE(1.0 / CAST(a.arank AS DOUBLE), 0.0) AS rr
           |  FROM truth t LEFT JOIN approx a
           |    ON a.qid = t.qid AND a.neighbor_id = t.neighbor_id
           |  WHERE t.rank = 1
           |)
           |SELECT h.qid, h.n_hits,
           |       CAST(h.n_hits AS DOUBLE)
           |         / LEAST(5.0, CAST(h.n_truth AS DOUBLE)) AS recall_at_k,
           |       rr.rr
           |FROM hits h JOIN rr USING (qid)
           |ORDER BY qid""".stripMargin
      }),

    // Per-source quality-weighted sampling (Pipeline
    // .weightedSamplePerGroup): x68's hard quota with x80's A-ES draw —
    // keep the 10 best-drawn docs of each source, inclusion probability
    // weight-proportional within the source. One window per source.
    QueryDef(
      "x95_weighted_sample_per_source",
      (s, dir) => Pipeline.weightedSamplePerGroup(Tables(s, dir).documents,
        "source", TextAnalysis.qualityScoreExpr, 10).orderBy("doc_id"),
      Some {
        val stopList = TextAnalysis.EnStopwords.map(w => s"'$w'").mkString(", ")
        raw"""WITH t AS (
             |  SELECT doc_id, source, text, string_split_regex(trim(text), '\s+') AS ts FROM documents
             |), m AS (
             |  SELECT doc_id, source, length(ts) AS n_tokens,
             |    CAST(length(list_filter(ts, x -> x IN ($stopList))) AS DOUBLE) / length(ts) AS stopword_ratio,
             |    CAST(length(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(length(text), 1) AS special_ratio
             |  FROM t
             |), wts AS (
             |  SELECT doc_id, source,
             |    0.4 * stopword_ratio + 0.3 * (1.0 - special_ratio) +
             |    0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) AS w
             |  FROM m
             |), keyed AS (
             |  SELECT doc_id, source, w,
             |    CAST(FLOOR((-ln((CAST(('0x' || substring(md5('wsamp|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
             |      / 4294967296.0) / w) * 1.0E9 + 0.5) AS BIGINT) AS es_key_fp
             |  FROM wts WHERE w > 0
             |)
             |SELECT doc_id, source, w, es_key_fp, pick_rank FROM (
             |  SELECT doc_id, source, w, es_key_fp,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY source
             |           ORDER BY es_key_fp ASC, doc_id ASC) AS BIGINT) AS pick_rank
             |  FROM keyed) r
             |WHERE pick_rank <= 10 ORDER BY doc_id""".stripMargin
      }),

    // PMI collocation mining (TextAnalysis.pmiCollocations, Church &
    // Hanks 1990): positive-PMI bigrams with count >= 5 — multi-word
    // expressions / tokenizer merge candidates / boilerplate phrases.
    // Exact integer counts, one snapped ln per surviving pair.
    QueryDef(
      "x94_pmi_collocations",
      (s, dir) => TextAnalysis.pmiCollocations(Tables(s, dir).documents)
        .orderBy("w1", "w2"),
      Some(raw"""WITH tok AS (
                |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
                |), uni AS (
                |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cu
                |  FROM (SELECT unnest(ts) AS w FROM tok) GROUP BY 1
                |), total AS (
                |  SELECT CAST(SUM(length(ts)) AS BIGINT) AS nn FROM tok
                |), pos AS (
                |  SELECT doc_id, ts, unnest(generate_series(1, length(ts)-1)) AS i
                |  FROM tok WHERE length(ts) >= 2
                |), big AS (
                |  SELECT ts[i] AS w1, ts[i+1] AS w2, CAST(COUNT(*) AS BIGINT) AS cb
                |  FROM pos GROUP BY 1, 2 HAVING COUNT(*) >= 5
                |)
                |SELECT b.w1, b.w2, b.cb,
                |       FLOOR(ln(CAST(b.cb AS DOUBLE) * CAST(t.nn AS DOUBLE)
                |         / (CAST(u1.cu AS DOUBLE) * CAST(u2.cu AS DOUBLE))) * 1.0E9 + 0.5) / 1.0E9 AS pmi
                |FROM big b
                |JOIN uni u1 ON u1.w = b.w1
                |JOIN uni u2 ON u2.w = b.w2
                |CROSS JOIN total t
                |WHERE FLOOR(ln(CAST(b.cb AS DOUBLE) * CAST(t.nn AS DOUBLE)
                |  / (CAST(u1.cu AS DOUBLE) * CAST(u2.cu AS DOUBLE))) * 1.0E9 + 0.5) / 1.0E9 > 0
                |ORDER BY w1, w2""".stripMargin)),

    // Temporal SCD-2 dimension join (ops.Upsert.temporalJoin) — facts
    // enriched with the dimension version valid at EACH FACT'S OWN date
    // (x87 fixes one date for the whole table; this is the per-event
    // read). Orders before 2000-01-01 drop (no dimension yet); orders
    // in [2000-01-01, 2001-06-01) see the original segment; later ones
    // see the post-merge segment. Plain equi-join on the key + interval
    // predicate — per-key history is tiny, so the key carries the join.
    QueryDef(
      "x93_scd2_temporal_join",
      (s, dir) => {
        val t = Tables(s, dir)
        val (_, _, merged) = scd2Fixture(t)
        val facts = t.orders.select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
        graft.ops.Upsert.temporalJoin(facts, merged,
          "o_custkey", "cust_id", "o_date")
          .orderBy("o_orderkey")
      },
      Some(Scd2OracleCtes +
        """, facts AS (
             |  SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date
             |  FROM orders
             |)
             |SELECT f.o_orderkey, f.o_custkey, f.o_date, m.segment
             |FROM facts f JOIN merged m
             |  ON m.cust_id = f.o_custkey
             | AND f.o_date >= m.valid_from
             | AND (m.valid_to IS NULL OR f.o_date < m.valid_to)
             |ORDER BY o_orderkey""".stripMargin)),

    // Incremental aggregate maintenance (ops.Incremental + the
    // both-images changelog): apply x85's v1->v2 change set to the v1
    // per-customer revenue rollup as an algebraic delta (insert adds,
    // delete subtracts, update adds new-old) — and the oracle proves the
    // incremental result EQUALS a full recompute over v2, decimal-exact.
    // The 100 TB point: the base never rescans; only the changelog and
    // the rollup move.
    QueryDef(
      "x92_incremental_agg",
      (s, dir) => {
        val base = Tables(s, dir).orders
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val v1 = base.filter(col("o_orderkey") % 10 =!= 0)
        val v2 = base.filter(col("o_orderkey") % 7 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 5 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")))
        val a1 = v1.groupBy("o_custkey")
          .agg(count(lit(1)).as("n"), sum(money(col("o_totalprice"))).as("total"))
        val cl = graft.ops.Upsert.snapshotDiffImages(v1, v2, Seq("o_orderkey"))
          .select(
            coalesce(col("new_o_custkey"), col("old_o_custkey")).as("o_custkey"),
            col("action"),
            money(col("old_o_totalprice")).as("old_p"),
            money(col("new_o_totalprice")).as("new_p"))
        graft.ops.Incremental.applyCountSumDelta(a1, cl, "o_custkey", "old_p", "new_p")
          .select(col("o_custkey"), col("n"), col("total").cast("double").as("total"))
          .orderBy("o_custkey")
      },
      Some(s"""WITH news AS (
              |  SELECT o_orderkey, o_custkey,
              |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
              |              ELSE o_totalprice END AS o_totalprice
              |  FROM orders WHERE o_orderkey % 7 <> 0
              |)
              |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
              |       ${sqlMoneySum("o_totalprice")} AS total
              |FROM news GROUP BY 1 ORDER BY 1""".stripMargin)),

    // WEIGHTED PageRank (ops.PageRank.pagerankWeighted) over the near-dup
    // graph with cosine-proportional edge weights quantized to 1e3
    // fixed point — a 0.9-similarity edge pulls rank harder than a 0.4
    // one. Same BIGINT bit-determinism contract as x73; the oracle
    // replays the weighted rounds including the quantization.
    //
    // Weight grid 1e3, not 1e6 (round-11 scale fix, surfaced by the
    // graph ScaleProbe): pagerankWeighted's overflow envelope needs
    // n_vertices * wMax * base to fit a signed 64-bit long, so 1e6
    // weights with the default base admit only ~9,200 vertices — the
    // 10x-duplicated probe corpus (20k) tripped the guard. At 1e3 the
    // same envelope admits 9.2M vertices (9.2B with base=1e6), and
    // 3 decimal digits of cosine is ample relative ordering for rank
    // propagation.
    QueryDef(
      "x91_pagerank_weighted",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        // Sparse capped banding with the rest of the PageRank family
        // (round 12, see x73) — shares the family's memoized pair set.
        val dup = Similarity.annPairs(emb, 0.4,
            Similarity.SparseBands, Similarity.SparseBandBits, Similarity.SparseBucketCap)
          .withColumn("w", floor(col("cosine") * lit(1e3) + lit(0.5)).cast("long"))
        val edges = dup.select(col("vec_a").as("src"), col("vec_b").as("dst"), col("w"))
          .union(dup.select(col("vec_b").as("src"), col("vec_a").as("dst"), col("w")))
        graft.ops.PageRank.pagerankWeighted(edges,
          emb.select(col("vec_id").as("id")), 3)
          .select(col("id").as("vec_id"), col("rank"))
          .orderBy("vec_id")
      },
      Some {
        val base = bandCandSql(Similarity.SparseBands, Similarity.SparseBandBits,
          Similarity.SparseBucketCap) +
          dupCteSql(weighted = true) + """, sym AS (
            |  SELECT vec_a AS src, vec_b AS dst, w FROM dup
            |  UNION ALL
            |  SELECT vec_b, vec_a, w FROM dup
            |), outw AS (
            |  SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM sym GROUP BY 1
            |), r0 AS (
            |  SELECT vec_id AS id, CAST(1000000000 AS BIGINT) AS rank FROM embeddings
            |)""".stripMargin
        val iters = (1 to 3).map { i =>
          s""", r$i AS (
             |  SELECT v.vec_id AS id,
             |         CAST(150000000 + (85 * COALESCE(t.insum, 0)) // 100 AS BIGINT) AS rank
             |  FROM embeddings v LEFT JOIN (
             |    SELECT e2.dst, SUM((r.rank * e2.w) // d.wsum) AS insum
             |    FROM sym e2
             |    JOIN r${i - 1} r ON r.id = e2.src
             |    JOIN outw d ON d.src = e2.src
             |    GROUP BY 1) t ON t.dst = v.vec_id
             |)""".stripMargin
        }.mkString
        base + iters + "\nSELECT id AS vec_id, rank FROM r3 ORDER BY vec_id"
      }),

    // Robust outlier detection (median/MAD z-scores — Iglewicz & Hoaglin
    // 1993): per nation, the order amounts whose modified z-score
    // |0.6745·(x − median)| / MAD exceeds 3.5. Median-based, so a single
    // whale order cannot drag the threshold the way a mean/stddev z-score
    // would — the estimator a data-quality gate actually wants. Two
    // grouped exact-percentile aggregates (both interpolated medians,
    // cross-engine identical per the x20 contract) + one broadcast-join
    // back; emits the flagged rows only (bounded output). Threshold 1.5
    // here, not the textbook 3.5: the synthetic prices are uniform (max
    // |mz| = 1.61 at sf0.01), so 3.5 would gate an empty result.
    //
    // Round-19 adjudication of the "serial percentile" queue item: a
    // rank/histogram construction (value histogram → per-nation
    // cumulative-count order statistics, MAD histogram folded from the
    // price histogram so only ONE corpus aggregate remains) was built
    // and measured in two spellings — both ~1.5-1.6x SLOWER steady-state
    // at sf0.1 (Probe stages: 2.0-2.3 s wall / Σtask 1.1-1.3 vs 1.26 s /
    // 0.71 for this shape) and +4 scheduling-bound jobs, so it was
    // REVERTED. The premise overstated the funnel: `percentile` is a
    // partial-aggregating ObjectHashAggregate whose per-group buffer is
    // DISTINCT-VALUE-bounded (a value→count map), so the only serial
    // step is the per-nation final merge+sort at histogram grain —
    // exactly the grain the window construction also sorts per nation.
    // Its remaining scale exposure (in-memory buffer vs spillable sort)
    // was not worth a measured 1.5x local regression.
    QueryDef(
      "x90_robust_outliers",
      (s, dir) => {
        val t = Tables(s, dir)
        // Three consumers (median, MAD, the scored output) otherwise
        // each re-run the orders⋈customer join (round-18); the
        // checkpointed frame is the projected fact grain.
        val o = t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("nation"), col("o_orderkey"),
            col("o_totalprice"))
          .localCheckpoint()
        val med = o.groupBy("nation")
          .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
        val mad = o.join(broadcast(med), Seq("nation"))
          .select(col("nation"), abs(col("o_totalprice") - col("med")).as("dev"))
          .groupBy("nation")
          .agg(expr("percentile(dev, 0.5)").as("mad"))
        // mad = 0 (>= half the nation's orders AT the median) must be
        // guarded: the modified z-score is undefined, and the two
        // engines disagree on double division by zero (Spark yields
        // ±Infinity — every row "an outlier" — while DuckDB yields NULL
        // — no rows). NULL mz → filtered, on both sides: a degenerate
        // nation reports no outliers rather than all of them.
        o.join(broadcast(med), Seq("nation"))
          .join(broadcast(mad), Seq("nation"))
          .select(col("nation"), col("o_orderkey"), col("o_totalprice"),
            when(col("mad") > 0,
              lit(0.6745) * (col("o_totalprice") - col("med")) / col("mad"))
              .as("mz"))
          .filter(abs(col("mz")) > 1.5)
          .orderBy("nation", "o_orderkey")
      },
      Some("""WITH o AS (
             |  SELECT c.c_nationkey AS nation, o.o_orderkey, o.o_totalprice
             |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
             |), med AS (
             |  SELECT nation, quantile_cont(o_totalprice, 0.5) AS med FROM o GROUP BY 1
             |), mad AS (
             |  SELECT o.nation, quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad
             |  FROM o JOIN med m ON m.nation = o.nation GROUP BY 1
             |)
             |SELECT o.nation, o.o_orderkey, o.o_totalprice,
             |       CASE WHEN d.mad > 0
             |            THEN 0.6745 * (o.o_totalprice - m.med) / d.mad END AS mz
             |FROM o JOIN med m ON m.nation = o.nation
             |JOIN mad d ON d.nation = o.nation
             |WHERE abs(CASE WHEN d.mad > 0
             |               THEN 0.6745 * (o.o_totalprice - m.med) / d.mad END) > 1.5
             |ORDER BY o.nation, o.o_orderkey""".stripMargin)),

    // One-pass data profiling (model.Profile) — per-column row/null/
    // exact-distinct counts and lexicographic min/max of the string
    // rendering, melted to long form. ONE aggregate over one scan
    // (multi-count-distinct rides Spark's Expand); float columns stay
    // out of min/max by contract (float rendering is not cross-engine
    // canonical; integers, dates, and strings are).
    QueryDef(
      "x88_data_profile",
      (s, dir) => graft.model.Profile.profile(Tables(s, dir).orders,
        Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"))
        .orderBy("column"),
      Some {
        val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")
        cols.map(c =>
          s"""SELECT '$c' AS "column",
             |       CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
             |       CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |       MIN(CAST($c AS VARCHAR)) AS min_value,
             |       MAX(CAST($c AS VARCHAR)) AS max_value
             |FROM orders""".stripMargin)
          .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),

    // Trailing-window anomaly detection (ops.Anomaly.trailingAnomaly):
    // hourly event volume per type, flagged when it deviates from the
    // trailing 24h by >3 sample standard deviations — the z-test cleared
    // of every division into a pure BIGINT predicate, so a serial oracle
    // replays the distributed flag bit-for-bit. One window pass, no join.
    QueryDef(
      "x97_event_anomaly",
      (s, dir) => graft.ops.Anomaly.trailingAnomaly(
        Tables(s, dir).events
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n_events")),
        "event_type", "hour", "n_events")
        .orderBy("event_type", "hour"),
      Some("""WITH h AS (
             |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |         CAST(COUNT(*) AS BIGINT) AS x
             |  FROM events GROUP BY 1, 2
             |), w AS (
             |  SELECT event_type, hour, x,
             |    CAST(COUNT(x) OVER tw AS BIGINT) AS trail_n,
             |    CAST(COALESCE(SUM(x) OVER tw, 0) AS BIGINT) AS trail_sum,
             |    CAST(COALESCE(SUM(x * x) OVER tw, 0) AS BIGINT) AS trail_sumsq
             |  FROM h
             |  WINDOW tw AS (PARTITION BY event_type ORDER BY hour, x
             |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
             |)
             |SELECT event_type, hour, x AS n_events, trail_n, trail_sum, trail_sumsq,
             |  COALESCE(trail_n >= 12 AND
             |   (trail_n * x - trail_sum) * (trail_n * x - trail_sum) * (trail_n - 1)
             |     > 9 * trail_n * (trail_n * trail_sumsq - trail_sum * trail_sum), FALSE) AS is_anomaly
             |FROM w ORDER BY event_type, hour""".stripMargin)),

    // Asymmetric containment near-dups (Dedup.containmentPairs): pairs
    // where >=90% of doc_a's distinct tokens occur in doc_b — the
    // quote/excerpt detector Jaccard is blind to. Prefix filter on the
    // contained side only (lossless, integer-exact threshold); the
    // container side contributes full posting lists, so like x86 this
    // is bench=false on THIS templated corpus where near-all documents
    // share the template vocabulary.
    QueryDef(
      "x98_containment_pairs",
      (s, dir) => graft.ext.Dedup.containmentPairs(Tables(s, dir).documents, 9, 10)
        .orderBy("doc_a", "doc_b"),
      Some(raw"""WITH tok AS (
                |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                |  FROM documents
                |), sizes AS (
                |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1
                |), df AS (
                |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY 1
                |), pre AS (
                |  SELECT t.doc_id, t.tok FROM (
                |    SELECT t.doc_id, t.tok, s.n,
                |           ROW_NUMBER() OVER (PARTITION BY t.doc_id
                |             ORDER BY d.df ASC, t.tok ASC) AS rnk
                |    FROM tok t JOIN df d USING (tok) JOIN sizes s USING (doc_id)) t
                |  WHERE rnk <= n - ((9 * n + 9) // 10) + 1
                |), cand AS (
                |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                |  FROM pre a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
                |), inter AS (
                |  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
                |  FROM cand c
                |  JOIN tok ta ON ta.doc_id = c.doc_a
                |  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
                |  GROUP BY 1, 2
                |)
                |SELECT i.doc_a, i.doc_b, sa.n AS n_a, sb.n AS n_b, i.inter,
                |       CAST(i.inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
                |FROM inter i
                |JOIN sizes sa ON sa.doc_id = i.doc_a
                |JOIN sizes sb ON sb.doc_id = i.doc_b
                |WHERE 10 * i.inter >= 9 * sa.n
                |ORDER BY doc_a, doc_b""".stripMargin),
      bench = false),

    // Min-label propagation communities (ops.Graph.labelPropagation)
    // over the banded near-dup graph: each vector's community is the
    // minimum id within 3 hops — the bounded-radius community notion,
    // every round replayable serially (unlike the adaptive-round
    // connected components of x22/x60). The oracle unrolls the three
    // min-label rounds as CTEs over the identical banded edges.
    QueryDef(
      "x99_label_propagation",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        val dup = Similarity.annPairs(emb, 0.4)
          .select(col("vec_a").as("src"), col("vec_b").as("dst"))
        graft.ops.Graph.labelPropagation(dup, emb.select(col("vec_id").as("id")), 3)
          .select(col("id").as("vec_id"), col("label").as("community"))
          .orderBy("vec_id")
      },
      Some {
        val base = bandCandSql(Similarity.AnnBands, Similarity.AnnBandBits, 0) +
          dupCteSql() + """, sym AS (
            |  SELECT vec_a AS src, vec_b AS dst FROM dup
            |  UNION ALL
            |  SELECT vec_b, vec_a FROM dup
            |), l0 AS (
            |  SELECT vec_id AS id, vec_id AS label FROM embeddings
            |)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s""", l$i AS (
             |  SELECT v.id, least(v.label, COALESCE(t.nmin, v.label)) AS label
             |  FROM l${i - 1} v LEFT JOIN (
             |    SELECT e2.dst, MIN(l.label) AS nmin
             |    FROM sym e2 JOIN l${i - 1} l ON l.id = e2.src
             |    GROUP BY 1) t ON t.dst = v.id
             |)""".stripMargin
        }.mkString
        base + rounds + "\nSELECT id AS vec_id, label AS community FROM l3 ORDER BY vec_id"
      }),

    // Mutual-kNN graph (Similarity.mutualKnn): an edge survives only if
    // each endpoint is in the other's banded top-3 — the symmetric
    // sparsifier graph clustering builds on, pruning hub-spoke edges.
    // The oracle replays x27's banded top-k then self-joins on the
    // reversed pair.
    QueryDef(
      "x100_mutual_knn",
      // SPARSE capped banding (round-11, with x110/x123): mutualKnn's
      // per-vector candidate list must stay bounded under duplication —
      // the dense uncapped preset measured super-linear on the graph
      // probes, and x100 is the operator those queries build on.
      (s, dir) => Similarity.mutualKnn(Tables(s, dir).embeddings, 3,
          Similarity.SparseBands, Similarity.SparseBandBits,
          Similarity.SparseBucketCap)
        .orderBy("src", "dst"),
      Some {
        bandCandSql(Similarity.SparseBands, Similarity.SparseBandBits,
          Similarity.SparseBucketCap) +
          """, sym AS (
            |  SELECT vec_a AS vec_id, vec_b AS neighbor_id FROM cand
            |  UNION ALL
            |  SELECT vec_b, vec_a FROM cand
            |), scored AS (
            |  SELECT s.vec_id, s.neighbor_id, list_dot_product(ea.emb, eb.emb) AS score
            |  FROM sym s
            |  JOIN e ea ON ea.vec_id = s.vec_id
            |  JOIN e eb ON eb.vec_id = s.neighbor_id
            |), topk AS (
            |  SELECT vec_id, neighbor_id, score FROM (
            |    SELECT vec_id, neighbor_id, score,
            |           ROW_NUMBER() OVER (PARTITION BY vec_id
            |             ORDER BY score DESC, neighbor_id ASC) AS rank
            |    FROM scored) r
            |  WHERE rank <= 3
            |)
            |SELECT t.vec_id AS src, t.neighbor_id AS dst, t.score
            |FROM topk t
            |JOIN topk m ON m.vec_id = t.neighbor_id AND m.neighbor_id = t.vec_id
            |WHERE t.vec_id < t.neighbor_id
            |ORDER BY src, dst""".stripMargin
      }),

    // Passage-level exact dedup WITH REASSEMBLY (Pipeline.dedupChunks):
    // consecutive 20-token chunks, only the globally-first occurrence of
    // each distinct chunk survives, documents rebuilt from their
    // surviving chunks — the removal twin of x72's duplicate-gram
    // coverage metric. One window keyed by chunk text, one reassembly
    // aggregate; no doc x doc comparison.
    QueryDef(
      "x101_chunk_dedup",
      (s, dir) => Pipeline.dedupChunks(Tables(s, dir).documents, 20)
        .orderBy("doc_id"),
      Some(s"""$TokCte, ch AS (
              |  SELECT doc_id, CAST((i - 1) // 20 AS BIGINT) AS chunk_idx,
              |         array_to_string(ts[i:i+19], ' ') AS chunk_text
              |  FROM tok, unnest(generate_series(1, greatest(length(ts), 1), 20)) t(i)
              |), fl AS (
              |  SELECT doc_id, chunk_idx, chunk_text,
              |         (ROW_NUMBER() OVER (PARTITION BY chunk_text
              |            ORDER BY doc_id, chunk_idx)) = 1 AS is_first
              |  FROM ch
              |)
              |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
              |       CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |       COALESCE(string_agg(CASE WHEN is_first THEN chunk_text END, ' '
              |         ORDER BY chunk_idx), '') AS cleaned_text
              |FROM fl GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // IDF-weighted set-similarity join (Dedup.weightedJaccardPairs):
    // tokens weighted 1e9 DIV df, the weighted prefix filter (Chaudhuri
    // et al. 2006) pruning losslessly, every membership decision BIGINT.
    // bench=false for the same reason as x86: THIS templated corpus
    // degenerates toward all-pairs; bench_diag carries its wall-clock.
    QueryDef(
      "x102_weighted_jaccard_pairs",
      (s, dir) => graft.ext.Dedup.weightedJaccardPairs(Tables(s, dir).documents, 7, 10)
        .orderBy("doc_a", "doc_b"),
      Some(raw"""WITH tok AS (
                |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                |  FROM documents
                |), df AS (
                |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY 1
                |), wtok AS (
                |  SELECT t.doc_id, t.tok, CAST(1000000000 AS BIGINT) // d.df AS w
                |  FROM tok t JOIN df d USING (tok)
                |), totals AS (
                |  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wtot FROM wtok GROUP BY 1
                |), cw AS (
                |  SELECT doc_id, tok, w,
                |         CAST(SUM(w) OVER (PARTITION BY doc_id ORDER BY w DESC, tok ASC
                |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                |  FROM wtok
                |), pre AS (
                |  SELECT c.doc_id, c.tok FROM cw c JOIN totals s USING (doc_id)
                |  WHERE 10 * (s.wtot - c.cum + c.w) >= 7 * s.wtot
                |), cand AS (
                |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
                |), inter AS (
                |  SELECT c.doc_a, c.doc_b, CAST(SUM(wb.w) AS BIGINT) AS inter_w
                |  FROM cand c
                |  JOIN wtok wa ON wa.doc_id = c.doc_a
                |  JOIN wtok wb ON wb.doc_id = c.doc_b AND wb.tok = wa.tok
                |  GROUP BY 1, 2
                |)
                |SELECT i.doc_a, i.doc_b, sa.wtot AS w_a, sb.wtot AS w_b, i.inter_w,
                |       CAST(i.inter_w AS DOUBLE)
                |         / CAST(sa.wtot + sb.wtot - i.inter_w AS DOUBLE) AS wjaccard
                |FROM inter i
                |JOIN totals sa ON sa.doc_id = i.doc_a
                |JOIN totals sb ON sb.doc_id = i.doc_b
                |WHERE 10 * i.inter_w >= 7 * (sa.wtot + sb.wtot - i.inter_w)
                |ORDER BY doc_a, doc_b""".stripMargin),
      bench = false),

    // ORC round-trip — the columnar sibling of the x59 JSONL gate: the
    // corpus lands in ORC (Spark-native columnar-with-indexes format)
    // and is read back; the gate proves the round trip preserved every
    // value the oracle computes from the original parquet.
    QueryDef(
      "x103_orc_roundtrip",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val dirTag = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-orc-gate-$dirTag"
        docs.write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            length(col("text")).cast("long").as("text_chars"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, n_chars,
             |       CAST(length(text) AS BIGINT) AS text_chars,
             |       md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Degree assortativity of the near-dup graph (ops.Graph
    // .assortativity, Newman 2002): integer sufficient statistics, ONE
    // double expression — positive means duplicate-dense documents
    // cluster together, negative means hub-spoke (a template document
    // near many one-off variants).
    QueryDef(
      "x104_assortativity",
      (s, dir) => graft.ops.Graph.assortativity(
        Similarity.annPairs(Tables(s, dir).embeddings, 0.4)
          .select(col("vec_a").as("src"), col("vec_b").as("dst"))),
      Some {
        bandCandSql(Similarity.AnnBands, Similarity.AnnBandBits, 0) +
          dupCteSql() + """, sym AS (
            |  SELECT vec_a AS u, vec_b AS v FROM dup
            |  UNION ALL
            |  SELECT vec_b, vec_a FROM dup
            |), deg AS (
            |  SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS degree FROM sym GROUP BY 1
            |), p AS (
            |  SELECT da.degree AS dx, db.degree AS dy
            |  FROM sym s
            |  JOIN deg da ON da.id = s.u
            |  JOIN deg db ON db.id = s.v
            |), agg AS (
            |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
            |         CAST(SUM(dx) AS BIGINT) AS sx,
            |         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
            |         CAST(SUM(dx * dy) AS BIGINT) AS sxy
            |  FROM p
            |)
            |SELECT m, sx, sxx, sxy,
            |       CASE WHEN CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) > 4.25e37
            |              OR CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) > 4.25e37
            |              OR CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 4.25e37
            |            THEN NULL
            |            WHEN CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx <= 0
            |            THEN NULL
            |            ELSE CAST(CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx AS DOUBLE)
            |                   / CAST(CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
            |            END AS assortativity
            |FROM agg""".stripMargin
      }),

    // Per-source KL divergence from the corpus unigram blend
    // (TextAnalysis.sourceDivergence) — the mixing-drift diagnostic.
    // Each term lands on a 1e-12 fixed-point BIGINT grid (snapped ln,
    // exact-integer ratios) so the SUM is order-free and a serial
    // oracle replays the distributed sum exactly.
    QueryDef(
      "x105_source_divergence",
      (s, dir) => TextAnalysis.sourceDivergence(Tables(s, dir).documents)
        .orderBy("source"),
      Some(raw"""WITH t AS (
                |  SELECT source, string_split_regex(trim(text), '\s+') AS ts FROM documents
                |), st AS (
                |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cst
                |  FROM (SELECT source, unnest(ts) AS tok FROM t) GROUP BY 1, 2
                |), srct AS (
                |  SELECT source, CAST(SUM(cst) AS BIGINT) AS ns FROM st GROUP BY 1
                |), corp AS (
                |  SELECT tok, CAST(SUM(cst) AS BIGINT) AS ct FROM st GROUP BY 1
                |), tot AS (
                |  SELECT CAST(SUM(ct) AS BIGINT) AS nn FROM corp
                |), terms AS (
                |  SELECT st.source, s.ns,
                |    CAST(FLOOR((CAST(st.cst AS DOUBLE) / CAST(s.ns AS DOUBLE))
                |      * (FLOOR(ln(CAST(st.cst AS DOUBLE) * CAST(tt.nn AS DOUBLE)
                |           / (CAST(s.ns AS DOUBLE) * CAST(c.ct AS DOUBLE))) * 1.0E9 + 0.5) / 1.0E9)
                |      * 1.0E12 + 0.5) AS BIGINT) AS term_fp
                |  FROM st JOIN corp c USING (tok) JOIN srct s USING (source) CROSS JOIN tot tt
                |)
                |SELECT source, MAX(ns) AS n_tokens, CAST(SUM(term_fp) AS BIGINT) AS kl_fp,
                |       CAST(SUM(term_fp) AS DOUBLE) / 1.0E12 AS kl_divergence
                |FROM terms GROUP BY 1 ORDER BY source""".stripMargin)),

    // Exact two-phase heavy hitters (ext.Frequent.frequentTokens):
    // per-partition Misra–Gries proposes a provable superset of tokens
    // above the 1/200 frequency threshold, an exact recount restricted
    // to candidates applies it — the sketch only PRUNES, never answers,
    // so the counts are exact and the oracle is a plain GROUP BY with
    // the identical integer threshold.
    QueryDef(
      "x106_frequent_tokens",
      (s, dir) => graft.ext.Frequent.frequentTokens(Tables(s, dir).documents, 200),
      Some(raw"""WITH tk AS (
                |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
                |), tot AS (
                |  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tk
                |), cnt AS (
                |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY 1
                |)
                |SELECT c.tok, c.cnt, t.n_total
                |FROM cnt c CROSS JOIN tot t
                |WHERE c.cnt * 200 > t.n_total
                |ORDER BY cnt DESC, tok""".stripMargin)),

    // PassJoin pigeonhole edit-distance self-join (Dedup
    // .editDistancePairs): all pairs within Levenshtein ≤ 2 on the
    // 24-char document key, candidates from the lossless segment
    // equi-join — the oracle is the brute-force quadratic join the
    // pigeonhole filter provably equals.
    QueryDef(
      "x107_edit_distance_pairs",
      (s, dir) => graft.ext.Dedup.editDistancePairs(Tables(s, dir).documents, 24, 2)
        .orderBy("doc_a", "doc_b"),
      Some("""WITH k AS (
             |  SELECT doc_id, substr(text, 1, 24) AS k
             |  FROM documents WHERE length(text) >= 24
             |)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |       CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
             |FROM k a JOIN k b ON a.doc_id < b.doc_id
             |WHERE levenshtein(a.k, b.k) <= 2
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Gopher-style rule-based quality gate (TextAnalysis.qualityGates):
    // word-count bounds, mean-word-length bounds, symbol density, and a
    // stopword floor — every rule integer-only with its evidence column,
    // so curation can cite exactly which rule dropped a document.
    QueryDef(
      "x108_quality_gates",
      (s, dir) => TextAnalysis.qualityGates(Tables(s, dir).documents)
        .orderBy("doc_id"),
      Some(raw"""WITH t AS (
                |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS ts FROM documents
                |), m AS (
                |  SELECT doc_id,
                |    CAST(len(ts) AS BIGINT) AS n_words,
                |    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS sum_word_len,
                |    CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS n_symbol_chars,
                |    CAST(length(text) AS BIGINT) AS n_chars,
                |    CAST(len(list_filter(ts,
                |      x -> x IN ('the','a','an','of','and','is','to','in'))) AS BIGINT) AS n_stopwords
                |  FROM t
                |)
                |SELECT doc_id, n_words, sum_word_len, n_symbol_chars, n_stopwords,
                |  (n_words BETWEEN 20 AND 1000) AS words_ok,
                |  (sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10) AS mean_len_ok,
                |  (n_symbol_chars * 1000 <= n_chars * 100) AS symbol_ok,
                |  (n_stopwords >= 2) AS stopword_ok,
                |  ((n_words BETWEEN 20 AND 1000)
                |    AND (sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10)
                |    AND (n_symbol_chars * 1000 <= n_chars * 100)
                |    AND n_stopwords >= 2) AS passes
                |FROM m ORDER BY doc_id""".stripMargin)),

    // First-order event transition mining: per-user LAG pairs each event
    // with its predecessor type, one aggregate counts the transition
    // matrix, and the per-from probability is the one shared IEEE
    // division over exact integer counts. Both engines order the lag on
    // the MICROSECOND-truncated timestamp (the Tables.events contract)
    // with event_id as the total-order tiebreak.
    QueryDef(
      "x109_event_transitions",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val tr = ev
          .withColumn("from_type", lag(col("event_type"), 1).over(w))
          .filter(col("from_type").isNotNull)
          .groupBy(col("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n_transitions"),
            countDistinct(col("user_id")).as("n_users"))
        val wf = Window.partitionBy(col("from_type"))
        tr.withColumn("p_transition",
            col("n_transitions").cast("double") /
              sum(col("n_transitions")).over(wf).cast("double"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH o AS (
             |  SELECT user_id, event_type,
             |         LAG(event_type) OVER (PARTITION BY user_id
             |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_type
             |  FROM events
             |), tr AS (
             |  SELECT from_type, event_type AS to_type,
             |         CAST(COUNT(*) AS BIGINT) AS n_transitions,
             |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
             |  FROM o WHERE from_type IS NOT NULL GROUP BY 1, 2
             |)
             |SELECT from_type, to_type, n_transitions, n_users,
             |       CAST(n_transitions AS DOUBLE) /
             |         CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
             |         AS p_transition
             |FROM tr ORDER BY from_type, to_type""".stripMargin)),

    // Bounded k-core peeling (ops.Graph.kcorePeel) over the mutual-kNN
    // similarity graph (x100's sparsifier — the 0.4-threshold near-dup
    // graph is too sparse for a 2-core on this corpus): three
    // synchronous drop-below-k rounds, survivors with their
    // within-subgraph degree — the density skeleton of the similarity
    // graph (which vectors sit in dense template families vs hang off
    // them). The oracle replays the mutual-top-3 graph, then unrolls
    // the three peel rounds as MATERIALIZED CTEs: DuckDB inlines CTEs
    // by default, and with 3 references per round the banded join would
    // expand 27× and exhaust file handles.
    //
    // SPARSE capped banding (round-11 scale fix): at the dense uncapped
    // preset the graph ScaleProbe measured exponent 1.20 under 10x
    // duplication — every vector's candidate list grows ~10x, so the
    // per-vector top-k window does ~100x total work. The sparse preset's
    // hot-bucket cap bounds any candidate list regardless of
    // duplication (re-probed exponent below 1), the same re-banding
    // x182 got in round 9.
    QueryDef(
      "x110_kcore",
      (s, dir) => graft.ops.Graph.kcorePeel(
          Similarity.mutualKnn(Tables(s, dir).embeddings, 3,
            Similarity.SparseBands, Similarity.SparseBandBits,
            Similarity.SparseBucketCap)
            .select(col("src"), col("dst")),
          k = 2, rounds = 3)
        .orderBy("id"),
      Some {
        val base = bandCandSql(Similarity.SparseBands, Similarity.SparseBandBits,
          Similarity.SparseBucketCap) +
          """, sym AS (
            |  SELECT vec_a AS vec_id, vec_b AS neighbor_id FROM cand
            |  UNION ALL
            |  SELECT vec_b, vec_a FROM cand
            |), scored AS (
            |  SELECT s.vec_id, s.neighbor_id, list_dot_product(ea.emb, eb.emb) AS score
            |  FROM sym s
            |  JOIN e ea ON ea.vec_id = s.vec_id
            |  JOIN e eb ON eb.vec_id = s.neighbor_id
            |), topk AS MATERIALIZED (
            |  SELECT vec_id, neighbor_id FROM (
            |    SELECT vec_id, neighbor_id,
            |           ROW_NUMBER() OVER (PARTITION BY vec_id
            |             ORDER BY score DESC, neighbor_id ASC) AS rank
            |    FROM scored) r
            |  WHERE rank <= 3
            |), e0 AS MATERIALIZED (
            |  SELECT t.vec_id AS src, t.neighbor_id AS dst
            |  FROM topk t
            |  JOIN topk m ON m.vec_id = t.neighbor_id AND m.neighbor_id = t.vec_id
            |  WHERE t.vec_id < t.neighbor_id
            |)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s""", d$i AS (
             |  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
             |    SELECT src AS id FROM e${i - 1} UNION ALL SELECT dst FROM e${i - 1})
             |  GROUP BY 1
             |), s$i AS (
             |  SELECT id FROM d$i WHERE degree >= 2
             |), e$i AS MATERIALIZED (
             |  SELECT ed.src, ed.dst FROM e${i - 1} ed
             |  JOIN s$i a ON a.id = ed.src
             |  JOIN s$i b ON b.id = ed.dst
             |)""".stripMargin
        }.mkString
        base + rounds +
          """
            |SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            |  SELECT src AS id FROM e3 UNION ALL SELECT dst FROM e3)
            |GROUP BY 1 ORDER BY id""".stripMargin
      }),

    // Blocked sorted-neighborhood dedup candidates (Dedup
    // .sortedNeighborhoodPairs): within each (lang, source) block,
    // length-adjacent documents pair with their next 3 sort neighbors,
    // verified by exact distinct-token Jaccard ≥ 1/2 — the
    // complementary blocking geometry to hash banding.
    QueryDef(
      "x111_sorted_neighborhood",
      (s, dir) => graft.ext.Dedup.sortedNeighborhoodPairs(Tables(s, dir).documents, 3, 1, 2)
        .orderBy("doc_a", "doc_b"),
      Some(raw"""WITH b AS (
                |  SELECT doc_id, lang, source, n_chars FROM documents
                |), led AS (
                |  SELECT doc_id,
                |         LEAD(doc_id, 1) OVER w AS n1,
                |         LEAD(doc_id, 2) OVER w AS n2,
                |         LEAD(doc_id, 3) OVER w AS n3
                |  FROM b
                |  WINDOW w AS (PARTITION BY lang, source ORDER BY n_chars, doc_id)
                |), sel AS (
                |  SELECT doc_id, unnest([n1, n2, n3]) AS nbr FROM led
                |), cand AS (
                |  SELECT DISTINCT least(doc_id, nbr) AS doc_a, greatest(doc_id, nbr) AS doc_b
                |  FROM sel WHERE nbr IS NOT NULL
                |), tok AS (
                |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                |  FROM documents
                |), sizes AS (
                |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1
                |), inter AS (
                |  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
                |  FROM cand c
                |  JOIN tok ta ON ta.doc_id = c.doc_a
                |  JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
                |  GROUP BY 1, 2
                |)
                |SELECT c.doc_a, c.doc_b, sa.n AS n_a, sb.n AS n_b,
                |       COALESCE(i.inter, 0) AS inter
                |FROM cand c
                |LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
                |JOIN sizes sa ON sa.doc_id = c.doc_a
                |JOIN sizes sb ON sb.doc_id = c.doc_b
                |WHERE COALESCE(i.inter, 0) * 2 >= (sa.n + sb.n - COALESCE(i.inter, 0)) * 1
                |ORDER BY 1, 2""".stripMargin)),

    // Per-document n-gram novelty (TextAnalysis.gramNovelty): each
    // distinct 8-gram is owned by its minimum doc_id; novelty is the
    // fraction of a document's grams it owns — exactly what x101's
    // first-occurrence passage dedup would keep, computed without
    // running the dedup. x72's inverted-index plan with min for count.
    QueryDef(
      "x112_gram_novelty",
      (s, dir) => TextAnalysis.gramNovelty(Tables(s, dir).documents, 8)
        .orderBy("doc_id"),
      Some(raw"""WITH tok AS (
                |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
                |), g AS (
                |  SELECT DISTINCT doc_id,
                |         unnest(list_transform(generate_series(1, greatest(length(ts)-7, 1)),
                |                i -> array_to_string(ts[i:i+7], ' '))) AS gram
                |  FROM tok
                |), own AS (
                |  SELECT gram, MIN(doc_id) AS owner FROM g GROUP BY 1
                |)
                |SELECT g.doc_id,
                |       CAST(COUNT(*) AS BIGINT) AS n_grams,
                |       CAST(SUM(CASE WHEN own.owner = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                |       CAST(SUM(CASE WHEN own.owner = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                |         / CAST(COUNT(*) AS DOUBLE) AS novelty
                |FROM g JOIN own USING (gram)
                |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // REAL audio decode under the gate — the RIFF/WAVE sibling of the
    // x55/x56 raster gates: each document gets a synthetic 16-bit PCM
    // clip (md5-derived samples, engine-neutral), encoded as an actual
    // WAV file (including an odd-size LIST chunk so the decoder must
    // honor the RIFF even-padding rule), chunk-walked back by the
    // pure-JVM decoder into exact integer amplitude stats. The oracle
    // replays the GENERATOR arithmetic from the digests: only a correct
    // parse of the container reproduces it.
    QueryDef(
      "x116_audio_stats_wav",
      (s, dir) => graft.ext.Multimodal.audioStats(s,
        graft.ext.Multimodal.syntheticWavs(Tables(s, dir).documents))
        .orderBy("doc_id"),
      Some("""WITH s AS (
             |  SELECT d.doc_id,
             |         CAST(('0x' || substr(md5('wav_' || d.doc_id || '_' || b.b), j.j*4+1, 4)) AS BIGINT) AS uv
             |  FROM documents d,
             |       (SELECT unnest(generate_series(0, 31)) AS b) b,
             |       (SELECT unnest(generate_series(0, 7)) AS j) j
             |), v AS (
             |  SELECT doc_id, CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS v FROM s
             |)
             |SELECT doc_id,
             |       CAST(256 AS BIGINT) AS n_samples,
             |       CAST(8000 AS BIGINT) AS sample_rate,
             |       CAST(1 AS BIGINT) AS channels,
             |       CAST(SUM(v) AS BIGINT) AS sum_amp,
             |       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
             |       CAST(MAX(abs(v)) AS BIGINT) AS peak
             |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // VAD-style audio activity segmentation over the same real-RIFF
    // corpus: per-frame Σv² energies, active iff >= the clip mean
    // (integer cross-multiplied compare — no division in the decision),
    // run-length burst segmentation via per-clip windows. The oracle
    // replays generator+decode arithmetic from the md5 digests.
    QueryDef(
      "x210_audio_activity",
      (s, dir) => graft.ext.Multimodal.audioActivity(s,
        graft.ext.Multimodal.syntheticWavs(Tables(s, dir).documents)),
      Some("""WITH s AS (
             |  SELECT d.doc_id, b.b AS frame,
             |         CAST(('0x' || substr(md5('wav_' || d.doc_id || '_' || b.b), j.j*4+1, 4)) AS BIGINT) AS uv
             |  FROM documents d,
             |       (SELECT unnest(generate_series(0, 31)) AS b) b,
             |       (SELECT unnest(generate_series(0, 7)) AS j) j
             |), v AS (
             |  SELECT doc_id, frame,
             |         CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS v
             |  FROM s
             |), fe AS (
             |  SELECT doc_id, frame, CAST(SUM(v * v) AS BIGINT) AS energy
             |  FROM v GROUP BY 1, 2
             |), tot AS (
             |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
             |         CAST(SUM(energy) AS BIGINT) AS tot_e
             |  FROM fe GROUP BY 1
             |), mk AS (
             |  SELECT fe.doc_id, fe.frame, tot.n_frames,
             |         fe.energy * tot.n_frames >= tot.tot_e AS active,
             |         COALESCE(LAG(fe.energy * tot.n_frames >= tot.tot_e)
             |           OVER (PARTITION BY fe.doc_id ORDER BY fe.frame), FALSE)
             |           AS prev
             |  FROM fe JOIN tot USING (doc_id)
             |), mk2 AS (
             |  SELECT doc_id, frame, n_frames, active,
             |         CASE WHEN active AND NOT prev THEN 1 ELSE 0 END AS seg_start,
             |         CAST(SUM(CASE WHEN active AND NOT prev THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY doc_id ORDER BY frame
             |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
             |  FROM mk
             |), per AS (
             |  SELECT doc_id, CAST(MAX(n_frames) AS BIGINT) AS n_frames,
             |         CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
             |           AS n_active,
             |         CAST(SUM(seg_start) AS BIGINT) AS n_segments
             |  FROM mk2 GROUP BY 1
             |), runs AS (
             |  SELECT doc_id, run_id, CAST(COUNT(*) AS BIGINT) AS len
             |  FROM mk2 WHERE active GROUP BY 1, 2
             |), lr AS (
             |  SELECT doc_id, CAST(MAX(len) AS BIGINT) AS longest FROM runs
             |  GROUP BY 1
             |)
             |SELECT per.doc_id, per.n_frames, per.n_active, per.n_segments,
             |       CAST(COALESCE(lr.longest, 0) AS BIGINT) AS longest_run,
             |       round(CAST(per.n_active AS DOUBLE)
             |         / CAST(per.n_frames AS DOUBLE), 6) AS active_ratio
             |FROM per LEFT JOIN lr USING (doc_id) ORDER BY per.doc_id""".stripMargin)),

    // Per-label centroid cosine matrix — the class-separation diagnostic
    // of embedding quality (well-separated label centroids mean the
    // banding/IVF structures built on these vectors can discriminate).
    // Determinism: each embedding value snaps to a 1e-6 fixed-point grid
    // BEFORE summation, so the per-(label, dim) centroid sums are exact
    // BIGINTs under any aggregation order (|v|<1, n=500, 64 dims keeps
    // the dot of sums < 2^62), and the cosine is ONE shared IEEE
    // expression over those integers — the x105 convention applied to
    // vectors. Shape: one explode + two aggregates keyed on (label,dim)
    // and label-pair; the pair join carries k·dim rows, never vectors.
    QueryDef(
      "x118_label_centroid_similarity",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        val fp = emb
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim0", "v")))
          .select(col("label"), (col("dim0") + 1).as("dim"),
            floor(col("v").cast("double") * lit(1000000.0) + lit(0.5)).cast("long").as("vfp"))
        val sums = fp.groupBy(col("label"), col("dim")).agg(sum(col("vfp")).as("s"))
        val dots = sums.select(col("label").as("label_a"), col("dim"), col("s").as("sa"))
          .join(sums.select(col("label").as("label_b"), col("dim"), col("s").as("sb")), Seq("dim"))
          .filter(col("label_a") < col("label_b"))
          .groupBy(col("label_a"), col("label_b"))
          // BIGINT envelope, fail-fast by construction: |s| <= n_label·1e6,
          // so the dot_fp OUTPUT (Σ_dim sa·sb, pinned exact BIGINT in both
          // engines) saturates its own column type near ~380 vectors per
          // label — under ANSI arithmetic (Spark 4 default) the sum THROWS
          // there rather than wrapping, and DuckDB raises on the HUGEINT→
          // BIGINT cast at the same point, so both engines stop loudly at
          // the same envelope. A corpus past it needs a coarser grid
          // (1e3), not silent widening: widening only the internal
          // products would still overflow the published output column.
          .agg(sum(col("sa") * col("sb")).as("dot_fp"))
        val norms = sums.groupBy(col("label")).agg(sum(col("s") * col("s")).as("nrm"))
        dots
          .join(norms.select(col("label").as("label_a"), col("nrm").as("na")), Seq("label_a"))
          .join(norms.select(col("label").as("label_b"), col("nrm").as("nb")), Seq("label_b"))
          .select(col("label_a"), col("label_b"), col("dot_fp"),
            (col("dot_fp").cast("double") /
              (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
              .as("centroid_cosine"))
          .orderBy("label_a", "label_b")
      },
      Some("""WITH fp AS (
             |  SELECT e.label, d.dim,
             |         CAST(FLOOR(CAST(e.embedding[d.dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS vfp
             |  FROM embeddings e, (SELECT unnest(generate_series(1, 64)) AS dim) d
             |), s AS (
             |  SELECT label, dim, CAST(SUM(vfp) AS BIGINT) AS s FROM fp GROUP BY 1, 2
             |), dots AS (
             |  SELECT a.label AS label_a, b.label AS label_b,
             |         CAST(SUM(a.s * b.s) AS BIGINT) AS dot_fp
             |  FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
             |  GROUP BY 1, 2
             |), nrm AS (
             |  SELECT label, CAST(SUM(s * s) AS BIGINT) AS n FROM s GROUP BY 1
             |)
             |SELECT d.label_a, d.label_b, d.dot_fp,
             |       CAST(d.dot_fp AS DOUBLE)
             |         / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) AS centroid_cosine
             |FROM dots d
             |JOIN nrm na ON na.label = d.label_a
             |JOIN nrm nb ON nb.label = d.label_b
             |ORDER BY label_a, label_b""".stripMargin)),

    // Deterministic per-key rate limiting: at most 5 events per
    // (user, hour), the keepers chosen by content hash rather than
    // arrival order — an UNBIASED within-window sample (head-of-window
    // keeps systematically favor early events), replayable because the
    // hash order is a pure function of the data. The ingest-throttle /
    // per-key cap primitive of a pipeline that cannot let one hot key
    // flood a window. One partitioned window pass; at scale the cap
    // bounds per-key output regardless of skew.
    QueryDef(
      "x119_event_rate_limit",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"), col("hour"))
          .orderBy(col("h"), col("event_id"))
        Tables(s, dir).events
          .select(col("event_id"), col("user_id"),
            date_trunc("hour", col("ts")).as("hour"))
          .withColumn("h", md5(concat(lit("rl|"), col("event_id").cast("string")).cast("binary")))
          .withColumn("keep_rank", row_number().over(w).cast("long"))
          .filter(col("keep_rank") <= 5)
          .select(col("event_id"), col("user_id"), col("hour"), col("keep_rank"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id,
             |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |         md5('rl|' || CAST(event_id AS VARCHAR)) AS h
             |  FROM events
             |), r AS (
             |  SELECT event_id, user_id, hour,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id, hour
             |           ORDER BY h, event_id) AS BIGINT) AS keep_rank
             |  FROM e
             |)
             |SELECT event_id, user_id, hour, keep_rank
             |FROM r WHERE keep_rank <= 5 ORDER BY event_id""".stripMargin)),

    // Vocabulary growth curve (Heaps' law measurement): distinct-token
    // vocabulary size after each 50-document prefix of the corpus in
    // doc_id order — the tokenizer-sizing / corpus-diversity curve. Each
    // token is attributed to the minimum doc_id containing it (x112's
    // ownership aggregate on tokens instead of grams), bucketed by
    // prefix, then cumulated with one ordered window. The window is
    // global but runs over CURVE POINTS (n/granularity rows), not
    // tokens — at scale the granularity is chosen so the curve has
    // O(100) points (it is a plot for humans), keeping the single-
    // partition step trivial; the heavy work (token ownership) is all
    // hash-partitioned. All integers; no per-prefix rescan.
    QueryDef(
      "x121_vocab_growth",
      (s, dir) => {
        val first = Tables(s, dir).documents
          .select(col("doc_id"),
            explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
          .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
        val w = Window.orderBy(col("prefix_docs"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        first
          .groupBy(((expr("first_doc DIV 50") + 1) * 50).as("prefix_docs"))
          .agg(count(lit(1)).as("new_tokens"))
          .withColumn("vocab_size", sum(col("new_tokens")).over(w))
          .orderBy("prefix_docs")
      },
      Some(raw"""WITH tk AS (
                |  SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
                |  FROM documents
                |), first AS (
                |  SELECT tok, MIN(doc_id) AS first_doc FROM tk GROUP BY 1
                |), b AS (
                |  SELECT (first_doc // 50 + 1) * 50 AS prefix_docs,
                |         CAST(COUNT(*) AS BIGINT) AS new_tokens
                |  FROM first GROUP BY 1
                |)
                |SELECT prefix_docs, new_tokens,
                |       CAST(SUM(new_tokens) OVER (ORDER BY prefix_docs
                |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
                |FROM b ORDER BY prefix_docs""".stripMargin)),

    // Signed feature hashing (Weinberger et al. 2009, "Feature Hashing
    // for Large Scale Multitask Learning"): each document's token
    // multiset projects into a FIXED 16-dim integer vector — bucket =
    // md5(token) mod 16, sign = parity of the next hash nibble (the
    // unbiasing trick: E[v_i·v_j] equals the true inner product) — the
    // dimensionality-independent featurizer that turns unbounded
    // vocabularies into joinable fixed-width vectors with NO vocabulary
    // table, no training, no driver state. One explode + one aggregate
    // of 16 conditional sums; all integers, any aggregation order.
    QueryDef(
      "x122_feature_hashing",
      (s, dir) => {
        val h = md5(concat(lit("fh|"), col("tok")).cast("binary"))
        val bucket = conv(substring(h, 1, 8), 16, 10).cast("long") % 16
        val sign = when(conv(substring(h, 9, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L)
        val buckets = (0 until 16).map(j =>
          sum(when(col("bucket") === j, col("sgn")).otherwise(0L)).as(s"f$j"))
        val normSq = (0 until 16).map(j => col(s"f$j") * col(s"f$j")).reduce(_ + _)
        Tables(s, dir).documents
          .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .select(col("doc_id"), bucket.as("bucket"), sign.as("sgn"))
          .groupBy(col("doc_id"))
          .agg(buckets.head, buckets.tail: _*)
          .withColumn("norm_sq", normSq)
          .orderBy("doc_id")
      },
      Some {
        val cols = (0 until 16).map(j =>
          s"CAST(SUM(CASE WHEN bucket = $j THEN sgn ELSE 0 END) AS BIGINT) AS f$j")
          .mkString(",\n             |       ")
        val norm = (0 until 16).map(j => s"f$j * f$j").mkString(" + ")
        raw"""WITH tk AS (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents
             |), hb AS (
             |  SELECT doc_id,
             |         CAST(('0x' || substring(md5('fh|' || tok), 1, 8)) AS BIGINT) % 16 AS bucket,
             |         CASE WHEN CAST(('0x' || substring(md5('fh|' || tok), 9, 1)) AS BIGINT) % 2 = 0
             |              THEN 1 ELSE -1 END AS sgn
             |  FROM tk
             |), v AS (
             |  SELECT doc_id,
             |       $cols
             |  FROM hb GROUP BY 1
             |)
             |SELECT doc_id, ${(0 until 16).map(j => s"f$j").mkString(", ")},
             |       CAST($norm AS BIGINT) AS norm_sq
             |FROM v ORDER BY doc_id""".stripMargin
      }),

    // Newman modularity (Newman & Girvan 2004) of the x99-style
    // min-label communities over the mutual-kNN graph — "did label
    // propagation find real structure": Q = Σ_c [e_c/m − (d_c/2m)²],
    // rewritten over the common denominator 4m² so the numerator
    // Σ_c (4·m·e_c − d_c²) is an EXACT BIGINT sum (order-free) and the
    // whole score is one final IEEE division — the x105 fixed-point
    // discipline with the grid derived from the graph itself. Bounds:
    // 4·m·e_c needs 4m² < 2^63, i.e. m < 1.5e9 edges; past that the
    // terms move to DECIMAL(38,0) with the same shape. m rides a
    // broadcast scalar aggregate, never a driver count.
    // SPARSE capped banding (round-11 scale fix, same rationale as
    // x110): the dense uncapped preset measured exponent 1.10 on the
    // 10x graph probe; the sparse hot-bucket cap bounds the per-vector
    // candidate list under any duplication.
    QueryDef(
      "x123_community_modularity",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        val mk = Similarity.mutualKnn(emb, 3,
            Similarity.SparseBands, Similarity.SparseBandBits,
            Similarity.SparseBucketCap)
          .select(col("src"), col("dst")).localCheckpoint()
        val comm = graft.ops.Graph.labelPropagation(
          mk, emb.select(col("vec_id").as("id")), 3)
        val sym = mk.union(mk.select(col("dst").as("src"), col("src").as("dst")))
        val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        val dc = comm.join(deg, Seq("id"), "left")
          .select(col("label"), coalesce(col("deg"), lit(0L)).as("deg"))
          .groupBy(col("label")).agg(sum(col("deg")).as("d_c"))
        val ec = mk
          .join(comm.select(col("id").as("src"), col("label").as("la")), Seq("src"))
          .join(comm.select(col("id").as("dst"), col("label").as("lb")), Seq("dst"))
          .filter(col("la") === col("lb"))
          .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_c"))
        val mAgg = mk.agg(count(lit(1)).as("m"))
        dc.join(ec, Seq("label"), "left")
          .select(col("label"), coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
          .crossJoin(broadcast(mAgg))
          .groupBy(col("m"))
          .agg(count(lit(1)).as("n_communities"),
            sum(lit(4L) * col("m") * col("e_c") - col("d_c") * col("d_c")).as("q_num"))
          .select(col("m"), col("n_communities"), col("q_num"),
            when(col("m") > 0,
              col("q_num").cast("double") / (lit(4.0) * col("m").cast("double") * col("m").cast("double")))
              .as("modularity"))
      },
      Some {
        val base = bandCandSql(Similarity.SparseBands, Similarity.SparseBandBits,
          Similarity.SparseBucketCap) +
          """, sym0 AS (
            |  SELECT vec_a AS vec_id, vec_b AS neighbor_id FROM cand
            |  UNION ALL
            |  SELECT vec_b, vec_a FROM cand
            |), scored AS (
            |  SELECT s.vec_id, s.neighbor_id, list_dot_product(ea.emb, eb.emb) AS score
            |  FROM sym0 s
            |  JOIN e ea ON ea.vec_id = s.vec_id
            |  JOIN e eb ON eb.vec_id = s.neighbor_id
            |), topk AS MATERIALIZED (
            |  SELECT vec_id, neighbor_id FROM (
            |    SELECT vec_id, neighbor_id,
            |           ROW_NUMBER() OVER (PARTITION BY vec_id
            |             ORDER BY score DESC, neighbor_id ASC) AS rank
            |    FROM scored) r
            |  WHERE rank <= 3
            |), mk AS MATERIALIZED (
            |  SELECT t.vec_id AS src, t.neighbor_id AS dst
            |  FROM topk t
            |  JOIN topk q ON q.vec_id = t.neighbor_id AND q.neighbor_id = t.vec_id
            |  WHERE t.vec_id < t.neighbor_id
            |), gsym AS MATERIALIZED (
            |  SELECT src, dst FROM mk
            |  UNION ALL
            |  SELECT dst, src FROM mk
            |), l0 AS (
            |  SELECT vec_id AS id, vec_id AS label FROM embeddings
            |)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s""", l$i AS MATERIALIZED (
             |  SELECT v.id, least(v.label, COALESCE(t.nmin, v.label)) AS label
             |  FROM l${i - 1} v LEFT JOIN (
             |    SELECT e2.dst, MIN(l.label) AS nmin
             |    FROM gsym e2 JOIN l${i - 1} l ON l.id = e2.src
             |    GROUP BY 1) t ON t.dst = v.id
             |)""".stripMargin
        }.mkString
        base + rounds +
          """, deg AS (
            |  SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM gsym GROUP BY 1
            |), dc AS (
            |  SELECT c.label, CAST(SUM(COALESCE(d.deg, 0)) AS BIGINT) AS d_c
            |  FROM l3 c LEFT JOIN deg d ON d.id = c.id GROUP BY 1
            |), ec AS (
            |  SELECT ca.label, CAST(COUNT(*) AS BIGINT) AS e_c
            |  FROM mk e
            |  JOIN l3 ca ON ca.id = e.src
            |  JOIN l3 cb ON cb.id = e.dst AND cb.label = ca.label
            |  GROUP BY 1
            |), mm AS (
            |  SELECT CAST(COUNT(*) AS BIGINT) AS m FROM mk
            |), terms AS (
            |  SELECT d.label, COALESCE(e.e_c, 0) AS e_c, d.d_c FROM dc d
            |  LEFT JOIN ec e ON e.label = d.label
            |)
            |SELECT mm.m, CAST(COUNT(*) AS BIGINT) AS n_communities,
            |       CAST(SUM(4 * mm.m * t.e_c - t.d_c * t.d_c) AS BIGINT) AS q_num,
            |       CASE WHEN mm.m > 0 THEN
            |         CAST(SUM(4 * mm.m * t.e_c - t.d_c * t.d_c) AS DOUBLE)
            |           / (4.0 * CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE))
            |       END AS modularity
            |FROM terms t, mm GROUP BY mm.m""".stripMargin
      }),

    // Bounded-contribution aggregation (the user-level sensitivity
    // bounding of differentially-private analytics — Wilson et al. 2020,
    // "Differentially Private SQL with Bounded User Contribution"):
    // per-nation revenue where each customer contributes at most a cap.
    // The noise-injection step is the caller's; what is HARD at scale is
    // exact per-user clamping, which is a two-level aggregate — per-user
    // decimal-exact totals, LEAST against the cap, re-aggregate — never
    // a row-level clamp (that bounds the wrong sensitivity). Decimal
    // money discipline end to end; clamp flags reported so the privacy
    // analyst can see how binding the cap is.
    QueryDef(
      "x124_bounded_contribution",
      (s, dir) => {
        val t = Tables(s, dir)
        val cap = lit(50000).cast("decimal(18,4)")
        val per = t.orders.groupBy(col("o_custkey"))
          .agg(sum(money(col("o_totalprice"))).as("total"))
        val clamped = per.select(col("o_custkey"),
          least(col("total"), cap).as("clamped"),
          (col("total") > cap).as("was_clamped"))
        clamped
          .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name").as("nation"))),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("nation"))
          .agg(count(lit(1)).as("n_customers"),
            sum(when(col("was_clamped"), 1L).otherwise(0L)).as("n_clamped"),
            sum(col("clamped")).cast("double").as("bounded_revenue"))
          .orderBy("nation")
      },
      Some("""WITH per AS (
             |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS total
             |  FROM orders GROUP BY 1
             |), cl AS (
             |  SELECT o_custkey,
             |         LEAST(total, CAST(50000 AS DECIMAL(18,4))) AS clamped,
             |         (total > CAST(50000 AS DECIMAL(18,4))) AS was_clamped
             |  FROM per
             |)
             |SELECT n.n_name AS nation,
             |       CAST(COUNT(*) AS BIGINT) AS n_customers,
             |       CAST(SUM(CASE WHEN was_clamped THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
             |       CAST(SUM(clamped) AS DOUBLE) AS bounded_revenue
             |FROM cl
             |JOIN customer c ON c.c_custkey = cl.o_custkey
             |JOIN nation n ON n.n_nationkey = c.c_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Positional phrase search (TextAnalysis.phraseSearch): exact
    // multi-term phrase matching via inverted-index postings — each token
    // votes for the phrase start it would imply, a start with all
    // |phrase| votes is a hit. The query table is broadcast; the shuffle
    // carries only term-selectivity-bounded candidate starts.
    QueryDef(
      "x125_phrase_search",
      (s, dir) => graft.ext.TextAnalysis.phraseSearch(
          Tables(s, dir).documents, PhraseQueries)
        .orderBy("phrase", "doc_id"),
      Some {
        val termRows = PhraseQueries.flatMap { p =>
          p.trim.split("\\s+").toSeq.zipWithIndex.map { case (w, i) =>
            s"('${p}', $i, '$w')"
          }
        }.mkString(", ")
        raw"""WITH tok AS (
             |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
             |), pos AS (
             |  SELECT doc_id, ts, unnest(generate_series(1, length(ts))) AS p FROM tok
             |), tkn AS (
             |  SELECT doc_id, p - 1 AS pos, ts[p] AS tok FROM pos
             |), terms(phrase, i, w) AS (
             |  VALUES $termRows
             |), lens AS (
             |  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS phrase_len FROM terms GROUP BY 1
             |), cand AS (
             |  SELECT t.phrase, k.doc_id, k.pos - t.i AS strt
             |  FROM tkn k JOIN terms t ON k.tok = t.w
             |  WHERE k.pos - t.i >= 0
             |), starts AS (
             |  SELECT phrase, doc_id, strt, CAST(COUNT(*) AS BIGINT) AS n_terms
             |  FROM cand GROUP BY 1, 2, 3
             |)
             |SELECT s.phrase, s.doc_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             |       CAST(MIN(s.strt) AS BIGINT) AS first_pos
             |FROM starts s JOIN lens l USING (phrase)
             |WHERE s.n_terms = l.phrase_len
             |GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin
      }),

    // BPE merge learning (TextAnalysis.bpe): per round, the most frequent
    // adjacent symbol pair (weighted by word frequency, ties broken by
    // (left, right) ascending) is merged greedily left-to-right in every
    // word. The corpus is aggregated to word counts once; rounds iterate
    // on the Heaps-bounded vocab. Oracle: the same rounds unrolled as
    // chained recursive CTEs (the fold recursion steps one symbol per
    // level, depth <= max word length = 20).
    QueryDef(
      "x126_bpe_merges",
      (s, dir) => graft.ext.TextAnalysis.bpe(Tables(s, dir).documents, BpeRounds)
        ._1.orderBy("round"),
      Some(BpeOracleStages +
        (1 to BpeRounds).map(k => s"SELECT $k AS round, * FROM b$k")
          .mkString("", " UNION ALL ", " ORDER BY round"))),

    // The symbol inventory after applying the learned merges — exercises
    // the greedy merge application (a pure fold projection) end to end.
    QueryDef(
      "x127_bpe_vocab",
      (s, dir) => graft.ext.TextAnalysis.bpe(Tables(s, dir).documents, BpeRounds)
        ._2.orderBy("symbol"),
      Some(BpeOracleStages +
        raw"""SELECT u AS symbol, CAST(SUM(cnt) AS BIGINT) AS total_count,
             |       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
             |FROM (SELECT word, cnt, unnest(sym) AS u FROM s$BpeRounds)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Tokenizer fertility per source (TextAnalysis.bpeFertility): the
    // corpus-learned BPE merges applied to per-source word counts —
    // subwords per word, the tokenizer-equity metric (Ács 2019). Oracle
    // reuses the x126 learning chain and joins per-source words to the
    // final symbolization.
    QueryDef(
      "x138_bpe_fertility",
      (s, dir) => graft.ext.TextAnalysis.bpeFertility(
          Tables(s, dir).documents, BpeRounds)
        .orderBy("source"),
      Some(BpeOracleStages +
        raw""", sdoc AS (
             |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS word
             |  FROM documents
             |), sw AS (
             |  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM sdoc WHERE regexp_matches(word, '^[a-z]{1,20}$$')
             |  GROUP BY 1, 2
             |), wl AS (
             |  SELECT word, CAST(len(sym) AS BIGINT) AS n_sym FROM s$BpeRounds
             |)
             |SELECT sw.source, CAST(SUM(sw.cnt) AS BIGINT) AS n_words,
             |       CAST(SUM(sw.cnt * wl.n_sym) AS BIGINT) AS n_symbols,
             |       CAST(SUM(sw.cnt * wl.n_sym) AS DOUBLE) / SUM(sw.cnt) AS fertility
             |FROM sw JOIN wl USING (word)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Hard-negative mining (Similarity.hardNegatives): per anchor, the
    // k most similar DIFFERENT-label vectors from the banded candidate
    // set — the DPR/ANCE contrastive-mining shape. Same banding as x27;
    // the label filter prunes before scoring.
    QueryDef(
      "x128_hard_negatives",
      (s, dir) => graft.ext.Similarity.hardNegatives(Tables(s, dir).embeddings, 3)
        .orderBy("vec_id", "rank"),
      Some {
        val S = graft.ext.Similarity
        val bandSelects = (0 until S.AnnBands).map { b =>
          val key = (0 until S.AnnBandBits).map { j =>
            val lit = S.planesSqlLiteral(b * S.AnnBandBits + j)
            s"CASE WHEN list_dot_product(emb, $lit) > 0 THEN ${1 << j} ELSE 0 END"
          }.mkString(" + ")
          s"SELECT vec_id, $b AS band_idx, $key AS band_key FROM e"
        }.mkString("\n  UNION ALL ")
        s"""WITH e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings
           |), bands AS (
           |  $bandSelects
           |), cand AS (
           |  SELECT DISTINCT a.vec_id, b.vec_id AS neg_id
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           |   AND a.vec_id <> b.vec_id
           |), scored AS (
           |  SELECT c.vec_id, ea.label AS anchor_label, c.neg_id,
           |         eb.label AS neg_label, list_dot_product(ea.emb, eb.emb) AS score
           |  FROM cand c
           |  JOIN e ea ON ea.vec_id = c.vec_id
           |  JOIN e eb ON eb.vec_id = c.neg_id
           |  WHERE ea.label <> eb.label
           |)
           |SELECT vec_id, anchor_label, rank, neg_id, neg_label, score FROM (
           |  SELECT vec_id, anchor_label, neg_id, neg_label, score,
           |         ROW_NUMBER() OVER (PARTITION BY vec_id
           |                            ORDER BY score DESC, neg_id ASC) AS rank
           |  FROM scored) r
           |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin
      }),

    // Hybrid retrieval with reciprocal-rank fusion (Similarity.hybridRrf):
    // lexical distinct-token Jaccard and dense dot-product rankings per
    // pinned query doc, each pool-cut, fused by integer fixed-point
    // 10^12 DIV (60 + rank). Query docs 0..4 exist at every SF.
    QueryDef(
      "x129_hybrid_rrf",
      (s, dir) => graft.ext.Similarity.hybridRrf(
          Tables(s, dir).documents, Tables(s, dir).embeddings, 0L to 4L)
        .orderBy("qid", "rank"),
      Some(
        raw"""WITH tok AS (
             |  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS ts
             |  FROM documents
             |), q AS (
             |  SELECT doc_id AS qid, ts AS qts FROM tok WHERE doc_id IN (0, 1, 2, 3, 4)
             |), lexs AS (
             |  SELECT q.qid, t.doc_id,
             |         CAST(len(list_intersect(t.ts, q.qts)) AS DOUBLE)
             |           / (len(t.ts) + len(q.qts) - len(list_intersect(t.ts, q.qts)))
             |           AS lex_score
             |  FROM tok t, q WHERE t.doc_id <> q.qid
             |), lext AS (
             |  SELECT qid, doc_id,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY lex_score DESC, doc_id) AS BIGINT) AS lex_rank
             |  FROM lexs QUALIFY lex_rank <= 20
             |), e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
             |), qe AS (
             |  SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id IN (0, 1, 2, 3, 4)
             |), ds AS (
             |  SELECT qe.qid, e.vec_id AS doc_id,
             |         list_dot_product(e.emb, qe.qemb) AS dense_score
             |  FROM e, qe WHERE e.vec_id <> qe.qid
             |), dst AS (
             |  SELECT qid, doc_id,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY dense_score DESC, doc_id) AS BIGINT) AS dense_rank
             |  FROM ds QUALIFY dense_rank <= 20
             |), fused AS (
             |  SELECT COALESCE(l.qid, d.qid) AS qid,
             |         COALESCE(l.doc_id, d.doc_id) AS doc_id,
             |         l.lex_rank, d.dense_rank,
             |         CAST(COALESCE(1000000000000 // (60 + l.lex_rank), 0)
             |            + COALESCE(1000000000000 // (60 + d.dense_rank), 0) AS BIGINT)
             |           AS rrf_fp
             |  FROM lext l FULL OUTER JOIN dst d
             |    ON l.qid = d.qid AND l.doc_id = d.doc_id
             |)
             |SELECT qid,
             |       CAST(ROW_NUMBER() OVER (PARTITION BY qid
             |            ORDER BY rrf_fp DESC, doc_id) AS BIGINT) AS rank,
             |       doc_id, rrf_fp, lex_rank, dense_rank
             |FROM fused QUALIFY rank <= 10 ORDER BY qid, rank""".stripMargin)),

    // Differentiated skew join (Skew.twoPathJoin): users with > 80 events
    // route through a broadcast of the profile's hot slice; the tail takes
    // the shuffled join. Result is row-identical to the plain join — the
    // oracle is exactly that plain join. Activity-weighted user depth per
    // event type exercises both the fact and profile columns.
    QueryDef(
      "x130_two_path_skew_join",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val prof = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_total"))
        graft.ops.Skew.twoPathJoin(
            ev.select(col("user_id"), col("event_type")), prof,
            Seq("user_id"), hotThreshold = 80L)
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("n_total")).as("total_depth"),
            (sum(col("n_total")).cast("double") / count(lit(1))).as("avg_depth"))
          .orderBy("event_type")
      },
      Some("""WITH prof AS (
             |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_total
             |  FROM events GROUP BY 1
             |)
             |SELECT e.event_type,
             |       CAST(COUNT(*) AS BIGINT) AS n_events,
             |       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
             |       CAST(SUM(p.n_total) AS BIGINT) AS total_depth,
             |       CAST(SUM(p.n_total) AS DOUBLE) / COUNT(*) AS avg_depth
             |FROM events e JOIN prof p USING (user_id)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // One-pass OLS linear probe (ops.LinearProbe.ols2): predict the
    // BPE-regex token count from whitespace-token and char counts — the
    // "estimate tokenizer cost from cheap stats before tokenizing 100 TB"
    // probe. Ten exact BIGINT sufficient statistics, then a closed-form
    // Cramer solve whose double expression tree is shared verbatim with
    // the oracle (the x41/CorrFormula determinism argument).
    QueryDef(
      "x131_token_cost_probe",
      (s, dir) => graft.ops.LinearProbe.ols2(
        graft.ext.TextAnalysis.tokenStats(Tables(s, dir).documents),
        "n_tokens", "n_chars", "n_bpe_tokens"),
      Some(graft.ops.LinearProbe.ols2OracleSql(
        raw"""SELECT length(string_split_regex(trim(text), '\s+')) AS x,
             |       length(text) AS z,
             |       length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS y
             |FROM documents""".stripMargin))),

    // Embedding-dimension covariance matrix (Similarity.covarianceMatrix):
    // upper triangle of the 64×64 covariance from exact fixed-point sums,
    // join-free (per-row outer-product explode + map-side combine).
    QueryDef(
      "x132_embedding_covariance",
      (s, dir) => graft.ext.Similarity.covarianceMatrix(Tables(s, dir).embeddings)
        .orderBy("dim_i", "dim_j"),
      Some(CovOracleSql)),

    // Incremental covariance maintenance (Similarity.covarianceIncremental):
    // the corpus split into base (vec_id % 5 != 0) and an append batch
    // (% 5 == 0); sufficient statistics merged by BIGINT addition. The
    // oracle is x132's FULL recompute verbatim — the hash match IS the
    // incremental == full proof.
    QueryDef(
      "x139_incremental_covariance",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        graft.ext.Similarity.covarianceIncremental(
            emb.filter(col("vec_id") % 5 =!= 0), emb.filter(col("vec_id") % 5 === 0))
          .orderBy("dim_i", "dim_j")
      },
      Some(CovOracleSql)),

    // Distribution-matching resampler (Pipeline.distributionMatch):
    // acceptance-sample every source's length histogram toward src0's
    // shape — rate = min(1, p_ref/p_src) per 100-char bucket, salted
    // md5 uniform per doc. Exact bucket counts; IEEE-identical rates.
    QueryDef(
      "x133_distribution_match",
      (s, dir) => graft.ext.Pipeline.distributionMatch(
          Tables(s, dir).documents, "src0")
        .orderBy("source", "len_bucket"),
      Some("""WITH b AS (
             |  SELECT doc_id, source,
             |         CAST(length(text) // 100 AS BIGINT) AS len_bucket
             |  FROM documents
             |), sh AS (
             |  SELECT source, len_bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
             |  FROM b GROUP BY 1, 2
             |), st AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM b GROUP BY 1
             |), rh AS (
             |  SELECT len_bucket, CAST(COUNT(*) AS BIGINT) AS n_ref
             |  FROM b WHERE source = 'src0' GROUP BY 1
             |), rt AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_ref_tot FROM b WHERE source = 'src0'
             |), rates AS (
             |  SELECT sh.source, sh.len_bucket, sh.n_docs,
             |         least(1.0,
             |           (CAST(COALESCE(rh.n_ref, 0) AS DOUBLE) / rt.n_ref_tot)
             |             / (CAST(sh.n_docs AS DOUBLE) / st.n_src)) AS accept_rate
             |  FROM sh JOIN st USING (source) LEFT JOIN rh USING (len_bucket), rt
             |)
             |SELECT b.source, b.len_bucket, r.n_docs, r.accept_rate,
             |       CAST(SUM(CASE WHEN
             |         CAST(('0x' || substring(md5('distmatch|' || CAST(b.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |           / 4294967296.0 < r.accept_rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |FROM b JOIN rates r ON b.source = r.source AND b.len_bucket = r.len_bucket
             |GROUP BY 1, 2, 3, 4
             |ORDER BY 1, 2""".stripMargin)),

    // Count-min sketch vs exact counts (TextAnalysis.countMinSketch):
    // 4×256 salted-md5 counters, min-over-rows estimate, one-sided error
    // surfaced as `overestimate`. The oracle rebuilds the identical
    // sketch in SQL (same hash family), so the match is exact.
    QueryDef(
      "x134_count_min_sketch",
      (s, dir) => graft.ext.TextAnalysis.countMinSketch(Tables(s, dir).documents)
        .orderBy("tok"),
      Some {
        val cellSql = (h: Int, tok: String) =>
          s"CAST(('0x' || substring(md5('cms$h|' || $tok), 1, 8)) AS BIGINT) % 256"
        val counterSelects = (0 until 4)
          .map(h => s"SELECT $h AS h, ${cellSql(h, "tok")} AS cell FROM t")
          .mkString("\n  UNION ALL ")
        val probeSelects = (0 until 4)
          .map(h => s"SELECT tok, true_count, $h AS h, ${cellSql(h, "tok")} AS cell FROM heavy")
          .mkString("\n  UNION ALL ")
        raw"""WITH t AS (
             |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
             |), counters AS (
             |  SELECT h, cell, CAST(COUNT(*) AS BIGINT) AS cell_count FROM (
             |  $counterSelects
             |  ) GROUP BY 1, 2
             |), heavy AS (
             |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_count
             |  FROM t GROUP BY 1 HAVING COUNT(*) >= 50
             |), probes AS (
             |  $probeSelects
             |)
             |SELECT p.tok, p.true_count,
             |       CAST(MIN(c.cell_count) AS BIGINT) AS cms_estimate,
             |       CAST(MIN(c.cell_count) - p.true_count AS BIGINT) AS overestimate
             |FROM probes p JOIN counters c ON p.h = c.h AND p.cell = c.cell
             |GROUP BY 1, 2
             |ORDER BY 1""".stripMargin
      }),

    // Join-planning advisor (Skew.joinStats): exact lineitem⋈orders
    // cardinality, fanout, and skew from the two key histograms alone —
    // never executing the join. Strategy CASE text shared verbatim.
    QueryDef(
      "x135_join_advisor",
      (s, dir) => graft.ops.Skew.joinStats(
        Tables(s, dir).lineitem.select(col("l_orderkey").as("k")),
        Tables(s, dir).orders.select(col("o_orderkey").as("k")), "k"),
      Some(s"""WITH lc AS (
             |  SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS ln FROM lineitem GROUP BY 1
             |), rc AS (
             |  SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS rn FROM orders GROUP BY 1
             |), ls AS (
             |  SELECT CAST(SUM(ln) AS BIGINT) AS n_left,
             |         CAST(COUNT(*) AS BIGINT) AS distinct_left,
             |         CAST(MAX(ln) AS BIGINT) AS max_fanout_left FROM lc
             |), rs AS (
             |  SELECT CAST(SUM(rn) AS BIGINT) AS n_right,
             |         CAST(COUNT(*) AS BIGINT) AS distinct_right,
             |         CAST(MAX(rn) AS BIGINT) AS max_fanout_right FROM rc
             |), js AS (
             |  SELECT CAST(COALESCE(SUM(ln * rn), 0) AS BIGINT) AS join_rows
             |  FROM lc JOIN rc USING (k)
             |), stats AS (
             |  SELECT n_left, n_right, distinct_left, distinct_right,
             |         max_fanout_left, max_fanout_right, join_rows,
             |         CAST(max_fanout_left AS DOUBLE)
             |           / (CAST(n_left AS DOUBLE) / CAST(distinct_left AS DOUBLE)) AS skew_ratio
             |  FROM ls, rs, js
             |)
             |SELECT *, ${graft.ops.Skew.strategyCase(1000000L, 8.0)} AS strategy
             |FROM stats""".stripMargin)),

    // Grouped histogram quantiles (HistogramSketch.quantilesByGroup):
    // one 64-bin sketch per event type over the value column — the
    // per-tenant/per-type production shape of x150's sketch, same
    // within-one-bin-width audit per row.
    QueryDef(
      "x157_grouped_quantile_sketch",
      (s, dir) => graft.ops.HistogramSketch.quantilesByGroup(
          Tables(s, dir).events, "event_type", "value")
        .orderBy("event_type", "q"),
      Some(graft.ops.HistogramSketch.groupedOracleSql(
        "events", "event_type", "value"))),

    // Language-ID evaluation (confusion cells + per-class precision and
    // recall from x03's classifier vs the labeled column): exact cell
    // counts; each ratio is one double division from exact BIGINTs.
    QueryDef(
      "x156_langid_confusion",
      (s, dir) => {
        val pred = graft.ext.TextAnalysis.languageId(Tables(s, dir).documents)
          .select(col("labeled_lang"), col("predicted_lang"))
        val cells = pred.groupBy("labeled_lang", "predicted_lang")
          .agg(count(lit(1)).as("n"))
        val byLabel = cells.groupBy("labeled_lang")
          .agg(sum(col("n")).as("n_labeled"))
        val byPred = cells.groupBy("predicted_lang")
          .agg(sum(col("n")).as("n_predicted"))
        cells
          .join(broadcast(byLabel), Seq("labeled_lang"))
          .join(broadcast(byPred), Seq("predicted_lang"))
          .select(col("labeled_lang"), col("predicted_lang"), col("n"),
            col("n_labeled"), col("n_predicted"),
            when(col("labeled_lang") === col("predicted_lang"),
              col("n").cast("double") / col("n_labeled").cast("double")).as("recall"),
            when(col("labeled_lang") === col("predicted_lang"),
              col("n").cast("double") / col("n_predicted").cast("double")).as("precision"))
          .orderBy("labeled_lang", "predicted_lang")
      },
      Some {
        val scoreSql = graft.ext.TextAnalysis.LangMarkers.map { case (lang, words) =>
          if (lang == "zh")
            raw"length(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS score_$lang"
          else {
            val lst = words.map(w => s"'$w'").mkString(", ")
            s"length(list_filter(ts, x -> x IN ($lst))) AS score_$lang"
          }
        }.mkString(",\n         ")
        val langs = graft.ext.TextAnalysis.LangMarkers.map(_._1)
        val maxExpr = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
        val caseExpr = langs.foldRight("'und'") { (l, rest) =>
          s"CASE WHEN score_$l = mx AND mx > 0 THEN '$l' ELSE $rest END"
        }
        raw"""WITH t AS (
             |  SELECT doc_id, lang AS labeled_lang, text,
             |         string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents
             |), scored AS (
             |  SELECT doc_id, labeled_lang,
             |         $scoreSql
             |  FROM t
             |), withmax AS (
             |  SELECT *, $maxExpr AS mx FROM scored
             |), pred AS (
             |  SELECT labeled_lang, $caseExpr AS predicted_lang FROM withmax
             |), cells AS (
             |  SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM pred GROUP BY 1, 2
             |), bl AS (
             |  SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS n_labeled FROM cells GROUP BY 1
             |), bp AS (
             |  SELECT predicted_lang, CAST(SUM(n) AS BIGINT) AS n_predicted FROM cells GROUP BY 1
             |)
             |SELECT c.labeled_lang, c.predicted_lang, c.n, bl.n_labeled, bp.n_predicted,
             |       CASE WHEN c.labeled_lang = c.predicted_lang
             |            THEN CAST(c.n AS DOUBLE) / CAST(bl.n_labeled AS DOUBLE) END AS recall,
             |       CASE WHEN c.labeled_lang = c.predicted_lang
             |            THEN CAST(c.n AS DOUBLE) / CAST(bp.n_predicted AS DOUBLE) END AS precision
             |FROM cells c JOIN bl USING (labeled_lang) JOIN bp USING (predicted_lang)
             |ORDER BY labeled_lang, predicted_lang""".stripMargin
      }),

    // Event-type affinity (market-basket lift over per-user event sets):
    // for each unordered type pair, the users performing both vs the
    // independence expectation — lift = n·c_ab/(c_a·c_b) from exact
    // distinct-user counts (one double division, same tree both engines).
    QueryDef(
      "x154_event_affinity",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val ut = ev.select(col("user_id"), col("event_type")).distinct()
        val n = ut.select(col("user_id")).distinct().agg(count(lit(1)).as("n_users"))
        val per = ut.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
        val pairs = ut.select(col("user_id"), col("event_type").as("type_a"))
          .join(ut.select(col("user_id"), col("event_type").as("type_b")), Seq("user_id"))
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b").agg(count(lit(1)).as("c_both"))
        pairs
          .join(broadcast(per.select(col("event_type").as("type_a"), col("c").as("c_a"))),
            Seq("type_a"))
          .join(broadcast(per.select(col("event_type").as("type_b"), col("c").as("c_b"))),
            Seq("type_b"))
          .crossJoin(broadcast(n))
          .select(col("type_a"), col("type_b"), col("c_both"), col("c_a"), col("c_b"),
            (col("n_users").cast("double") * col("c_both").cast("double") /
              (col("c_a").cast("double") * col("c_b").cast("double"))).as("lift"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH ut AS (
             |  SELECT DISTINCT user_id, event_type FROM events
             |), n AS (
             |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut
             |), per AS (
             |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM ut GROUP BY 1
             |), pairs AS (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b,
             |         CAST(COUNT(*) AS BIGINT) AS c_both
             |  FROM ut a JOIN ut b ON a.user_id = b.user_id
             |   AND a.event_type < b.event_type
             |  GROUP BY 1, 2
             |)
             |SELECT p.type_a, p.type_b, p.c_both, pa.c AS c_a, pb.c AS c_b,
             |       CAST(n.n_users AS DOUBLE) * CAST(p.c_both AS DOUBLE)
             |         / (CAST(pa.c AS DOUBLE) * CAST(pb.c AS DOUBLE)) AS lift
             |FROM pairs p
             |JOIN per pa ON pa.event_type = p.type_a
             |JOIN per pb ON pb.event_type = p.type_b
             |CROSS JOIN n
             |ORDER BY type_a, type_b""".stripMargin)),

    // Batch-mixing order (round-robin deal by hash-shuffled within-source
    // rank): batch b holds each source's (b+1)-th ranked doc — so every
    // training batch of ≤ |sources| docs is perfectly source-balanced,
    // deterministic, and stable under repartitioning. One window/source.
    QueryDef(
      "x155_batch_mixing",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("u").asc, col("doc_id").asc)
        Tables(s, dir).documents
          .select(col("doc_id"), col("source"),
            graft.ext.Pipeline.saltedUniform(col("doc_id"), "mixorder|").as("u"))
          .withColumn("batch", (row_number().over(w) - 1).cast("long"))
          .select("doc_id", "source", "batch")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source,
             |       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY u, doc_id) - 1
             |            AS BIGINT) AS batch
             |FROM (
             |  SELECT doc_id, source,
             |         CAST(('0x' || substring(md5('mixorder|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |           / 4294967296.0 AS u
             |  FROM documents) t
             |ORDER BY doc_id""".stripMargin)),

    // Vocabulary coverage curve (TextAnalysis.vocabCoverageCurve): token
    // mass covered by the top-N types for candidate vocab caps — the
    // <unk>-rate pricing input for vocab sizing. The rank window runs
    // over the Heaps-bounded type table, never the corpus.
    QueryDef(
      "x153_vocab_coverage_curve",
      (s, dir) => graft.ext.TextAnalysis.vocabCoverageCurve(Tables(s, dir).documents)
        .orderBy("vocab_cap"),
      Some(raw"""WITH t AS (
             |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
             |), counts AS (
             |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(c) AS BIGINT) AS total_tokens FROM counts
             |), ranked AS (
             |  SELECT tok, c,
             |         CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS BIGINT) AS rank
             |  FROM counts
             |), caps(vocab_cap) AS (
             |  VALUES (CAST(100 AS BIGINT)), (CAST(500 AS BIGINT)),
             |         (CAST(1000 AS BIGINT)), (CAST(2000 AS BIGINT))
             |)
             |SELECT caps.vocab_cap,
             |       CAST(SUM(r.c) AS BIGINT) AS covered_tokens,
             |       tot.total_tokens,
             |       CAST(SUM(r.c) AS DOUBLE) / CAST(tot.total_tokens AS DOUBLE) AS coverage
             |FROM ranked r JOIN caps ON r.rank <= caps.vocab_cap CROSS JOIN tot
             |GROUP BY 1, 3 ORDER BY 1""".stripMargin)),

    // Ranker agreement (Similarity.rankerAgreement): Kendall's τ between
    // the lexical and dense top-10 rankings over their shared documents
    // — exact concordant/discordant counts, one double division.
    QueryDef(
      "x152_ranker_agreement",
      (s, dir) => graft.ext.Similarity.rankerAgreement(
          Tables(s, dir).documents, Tables(s, dir).embeddings, 0L to 4L,
          poolDepth = 50)
        .orderBy("qid"),
      Some(
        raw"""WITH tok AS (
             |  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS ts
             |  FROM documents
             |), q AS (
             |  SELECT doc_id AS qid, ts AS qts FROM tok WHERE doc_id IN (0, 1, 2, 3, 4)
             |), lexs AS (
             |  SELECT q.qid, t.doc_id,
             |         CAST(len(list_intersect(t.ts, q.qts)) AS DOUBLE)
             |           / (len(t.ts) + len(q.qts) - len(list_intersect(t.ts, q.qts)))
             |           AS lex_score
             |  FROM tok t, q WHERE t.doc_id <> q.qid
             |), lext AS (
             |  SELECT qid, doc_id,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY lex_score DESC, doc_id) AS BIGINT) AS lex_rank
             |  FROM lexs QUALIFY lex_rank <= 50
             |), e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
             |), qe AS (
             |  SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id IN (0, 1, 2, 3, 4)
             |), ds AS (
             |  SELECT qe.qid, e.vec_id AS doc_id,
             |         list_dot_product(e.emb, qe.qemb) AS dense_score
             |  FROM e, qe WHERE e.vec_id <> qe.qid
             |), dst AS (
             |  SELECT qid, doc_id,
             |         CAST(ROW_NUMBER() OVER (PARTITION BY qid
             |              ORDER BY dense_score DESC, doc_id) AS BIGINT) AS dense_rank
             |  FROM ds QUALIFY dense_rank <= 50
             |), shared AS (
             |  SELECT l.qid, l.doc_id, l.lex_rank, d.dense_rank
             |  FROM lext l JOIN dst d ON l.qid = d.qid AND l.doc_id = d.doc_id
             |), pairs AS (
             |  SELECT a.qid, (a.lex_rank - b.lex_rank) * (a.dense_rank - b.dense_rank) AS prod
             |  FROM shared a JOIN shared b ON a.qid = b.qid AND a.doc_id < b.doc_id
             |)
             |SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |       CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
             |       CAST(SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
             |       CAST(SUM(CASE WHEN prod > 0 THEN 1 ELSE 0 END)
             |          - SUM(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS DOUBLE)
             |         / CAST(COUNT(*) AS DOUBLE) AS kendall_tau
             |FROM pairs GROUP BY 1 ORDER BY qid""".stripMargin)),

    // Token-budget selection (Pipeline.budgetSelect): the longest
    // quality-ranked prefix of each source that fits 5,000 tokens —
    // "the best N tokens per source" curation cut, one window/source.
    QueryDef(
      "x151_budget_selection",
      (s, dir) => graft.ext.Pipeline.budgetSelect(Tables(s, dir).documents, 5000L)
        .orderBy("doc_id"),
      Some {
        val stopList = graft.ext.TextAnalysis.EnStopwords
          .map(w => s"'$w'").mkString(", ")
        raw"""WITH t AS (
             |  SELECT doc_id, source, text,
             |         string_split_regex(trim(text), '\s+') AS ts
             |  FROM documents
             |), m AS (
             |  SELECT doc_id, source,
             |         CAST(length(ts) AS BIGINT) AS n_tokens,
             |         CAST(FLOOR((0.4 * (CAST(length(list_filter(ts, x -> x IN ($stopList))) AS DOUBLE) / length(ts))
             |           + 0.3 * (1.0 - CAST(length(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(length(text), 1))
             |           + 0.3 * least(1.0, CAST(length(ts) AS DOUBLE) / 100.0)) * 1000000000.0 + 0.5) AS BIGINT) AS q_fp
             |  FROM t
             |)
             |SELECT doc_id, source, n_tokens, q_fp,
             |       CAST(SUM(n_tokens) OVER (PARTITION BY source
             |            ORDER BY q_fp DESC, doc_id ASC
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |         AS cum_tokens,
             |       CAST(SUM(n_tokens) OVER (PARTITION BY source
             |            ORDER BY q_fp DESC, doc_id ASC
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |         <= 5000 AS kept
             |FROM m ORDER BY doc_id""".stripMargin
      }),

    // Histogram quantile sketch (ops.HistogramSketch): 256 mergeable
    // BIGINT counters replace the global sort; the bin-midpoint estimate
    // is audited against the exact percentile per row, with the
    // within-one-bin-width verdict — the quantile sibling of x134's CMS.
    QueryDef(
      "x150_histogram_quantiles",
      (s, dir) => graft.ops.HistogramSketch.quantiles(
          Tables(s, dir).orders, "o_totalprice")
        .orderBy("q"),
      Some(graft.ops.HistogramSketch.oracleSql("orders", "o_totalprice"))),

    // Stratified k-fold (Pipeline.stratifiedKFold): hash-shuffled
    // round-robin deal within each source — per-cell counts differ by at
    // most 1 (exact balance, not expected balance). One window/source.
    QueryDef(
      "x148_stratified_kfold",
      (s, dir) => graft.ext.Pipeline.stratifiedKFold(Tables(s, dir).documents, 5)
        .orderBy("doc_id"),
      Some("""SELECT doc_id, source,
             |       CAST((ROW_NUMBER() OVER (PARTITION BY source ORDER BY u, doc_id) - 1) % 5
             |            AS BIGINT) AS fold
             |FROM (
             |  SELECT doc_id, source,
             |         CAST(('0x' || substring(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |           / 4294967296.0 AS u
             |  FROM documents) t
             |ORDER BY doc_id""".stripMargin)),

    // Dense hourly time spine (gap filling): the events series re-gridded
    // onto every hour between the corpus' min and max — missing hours
    // surface as explicit zero rows instead of absent ones (the
    // resample/asfreq move; window functions and charts break on gaps).
    // The spine is ONE sequence() explode of two broadcast scalars.
    QueryDef(
      "x149_time_spine",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
        val bounds = ev.agg(
          date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        val spine = bounds.select(
          explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hour"))
        spine.join(hourly, Seq("hour"), "left")
          .select(col("hour"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("n_users"), lit(0L)).as("n_users"))
          .orderBy("hour")
      },
      Some("""WITH hourly AS (
             |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             |         CAST(COUNT(*) AS BIGINT) AS n_events,
             |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
             |  FROM events GROUP BY 1
             |), bounds AS (
             |  SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
             |         date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
             |  FROM events
             |), spine AS (
             |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
             |)
             |SELECT s.hour,
             |       COALESCE(h.n_events, 0) AS n_events,
             |       COALESCE(h.n_users, 0) AS n_users
             |FROM spine s LEFT JOIN hourly h USING (hour)
             |ORDER BY hour""".stripMargin)),

    // Contrastive triplet mining (Similarity.trainingTriplets): positive
    // = best same-cluster witness, negative = hardest CROSS-cluster
    // candidate — the (anchor, pos, neg) table a bi-encoder trains on.
    // Oracle: the x60 cluster chain + two argmax windows.
    QueryDef(
      "x147_training_triplets",
      (s, dir) => graft.ext.Similarity.trainingTriplets(
          Tables(s, dir).embeddings, 0.4)
        .orderBy("anchor"),
      Some {
        val base = bandCandSql(Similarity.AnnBands, Similarity.AnnBandBits, 0) +
          s""", dupc AS (
             |  SELECT vec_a, vec_b, cosine FROM (
             |    SELECT c.vec_a, c.vec_b, list_dot_product(ea.emb, eb.emb) AS cosine
             |    FROM cand c
             |    JOIN e ea ON ea.vec_id = c.vec_a
             |    JOIN e eb ON eb.vec_id = c.vec_b) p
             |  WHERE cosine >= 0.4
             |), sym AS (
             |  SELECT vec_a AS src, vec_b AS dst FROM dupc
             |  UNION ALL
             |  SELECT vec_b, vec_a FROM dupc
             |), reach(a, b) AS (
             |  SELECT vec_id, vec_id FROM embeddings
             |  UNION
             |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
             |), cl AS (
             |  SELECT a AS vec_id, MIN(b) AS cluster FROM reach GROUP BY 1
             |), posr AS (
             |  SELECT anchor, positive, cosine AS pos_cos FROM (
             |    SELECT anchor, positive, cosine,
             |           ROW_NUMBER() OVER (PARTITION BY anchor
             |             ORDER BY cosine DESC, positive ASC) AS rn
             |    FROM (SELECT vec_a AS anchor, vec_b AS positive, cosine FROM dupc
             |          UNION ALL
             |          SELECT vec_b, vec_a, cosine FROM dupc) s) r
             |  WHERE rn = 1
             |), cdir AS (
             |  SELECT vec_a AS anchor, vec_b AS cnd FROM cand
             |  UNION ALL
             |  SELECT vec_b, vec_a FROM cand
             |), negscored AS (
             |  SELECT d.anchor, d.cnd, list_dot_product(ea.emb, eb.emb) AS neg_cos
             |  FROM cdir d
             |  JOIN cl ca ON ca.vec_id = d.anchor
             |  JOIN cl cb ON cb.vec_id = d.cnd AND ca.cluster <> cb.cluster
             |  JOIN e ea ON ea.vec_id = d.anchor
             |  JOIN e eb ON eb.vec_id = d.cnd
             |), negr AS (
             |  SELECT anchor, cnd AS negative, neg_cos FROM (
             |    SELECT anchor, cnd, neg_cos,
             |           ROW_NUMBER() OVER (PARTITION BY anchor
             |             ORDER BY neg_cos DESC, cnd ASC) AS rn
             |    FROM negscored) r
             |  WHERE rn = 1
             |)
             |SELECT p.anchor, p.positive, p.pos_cos, n.negative, n.neg_cos
             |FROM posr p JOIN negr n USING (anchor)
             |ORDER BY anchor""".stripMargin
        "WITH RECURSIVE" + base.stripPrefix("WITH")
      },
      bench = false), // shares the x60 iterative cluster loop; gated at sf0.01

    // MMR diversified re-ranking (Similarity.mmrRerank): greedy
    // 0.5·rel − 0.5·max-pairwise-penalty selection from each pinned
    // query's top-10 pool — near-dup hits can't crowd the result page.
    // Rounds are DataFrame algebra over the broadcast-small pool.
    QueryDef(
      "x146_mmr_rerank",
      (s, dir) => graft.ext.Similarity.mmrRerank(
          Tables(s, dir).embeddings, 0L to 4L, poolK = 10, k = MmrK)
        .orderBy("qid", "round"),
      Some(MmrOracleSql)),

    // Metadata-leakage MI audit (TextAnalysis.sourceFeatureMi): mutual
    // information between source and length bucket, per-source partial
    // terms on the x105 fixed-point log grid (rows sum to corpus MI).
    QueryDef(
      "x143_source_feature_mi",
      (s, dir) => graft.ext.TextAnalysis.sourceFeatureMi(Tables(s, dir).documents)
        .orderBy("source"),
      Some("""WITH b AS (
             |  SELECT source, CAST(length(text) // 100 AS BIGINT) AS len_bucket
             |  FROM documents
             |), cxy AS (
             |  SELECT source, len_bucket, CAST(COUNT(*) AS BIGINT) AS cxy
             |  FROM b GROUP BY 1, 2
             |), cx AS (
             |  SELECT source, CAST(SUM(cxy) AS BIGINT) AS cx FROM cxy GROUP BY 1
             |), cy AS (
             |  SELECT len_bucket, CAST(SUM(cxy) AS BIGINT) AS cy FROM cxy GROUP BY 1
             |), tot AS (
             |  SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM cxy
             |), terms AS (
             |  SELECT t.source, x.cx,
             |    CAST(FLOOR((CAST(t.cxy AS DOUBLE) / CAST(tt.n AS DOUBLE))
             |      * (FLOOR(ln(CAST(t.cxy AS DOUBLE) * CAST(tt.n AS DOUBLE)
             |           / (CAST(x.cx AS DOUBLE) * CAST(y.cy AS DOUBLE))) * 1.0E9 + 0.5) / 1.0E9)
             |      * 1.0E12 + 0.5) AS BIGINT) AS term_fp
             |  FROM cxy t JOIN cx x USING (source) JOIN cy y USING (len_bucket)
             |  CROSS JOIN tot tt
             |)
             |SELECT source, MAX(cx) AS n_docs, CAST(SUM(term_fp) AS BIGINT) AS mi_fp,
             |       CAST(SUM(term_fp) AS DOUBLE) / 1.0E12 AS mi_part
             |FROM terms GROUP BY 1 ORDER BY source""".stripMargin)),

    // Functional-dependency discovery (Profile.fdCheck): four pinned
    // candidates over the star schema — two true FDs (key dependencies),
    // two expected violations — each one grouped count-distinct folded
    // to a labeled row. TANE's single-attribute slice as profiling.
    QueryDef(
      "x142_functional_dependencies",
      (s, dir) => {
        val t = Tables(s, dir)
        val cands = Seq(
          ("customer", "c_custkey", "c_nationkey", t.customer),
          ("customer", "c_nationkey", "c_mktsegment", t.customer),
          ("nation", "n_nationkey", "n_regionkey", t.nation),
          ("orders", "o_custkey", "o_orderstatus", t.orders))
        cands.map { case (rel, l, r, df) =>
          graft.model.Profile.fdCheck(df, l, r)
            .select(lit(rel).as("rel"), lit(l).as("lhs"), lit(r).as("rhs"),
              col("n_groups"), col("n_pairs"), col("n_violating_groups"),
              col("holds"))
        }.reduce(_ unionAll _).orderBy("rel", "lhs", "rhs")
      },
      Some {
        def one(rel: String, l: String, r: String) =
          s"""SELECT '$rel' AS rel, '$l' AS lhs, '$r' AS rhs,
             |       CAST(COUNT(*) AS BIGINT) AS n_groups,
             |       CAST(SUM(k) AS BIGINT) AS n_pairs,
             |       CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
             |       SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) = 0 AS holds
             |FROM (SELECT $l, COUNT(DISTINCT ROW($r)) AS k FROM $rel GROUP BY 1)""".stripMargin
        Seq(
          one("customer", "c_custkey", "c_nationkey"),
          one("customer", "c_nationkey", "c_mktsegment"),
          one("nation", "n_nationkey", "n_regionkey"),
          one("orders", "o_custkey", "o_orderstatus"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY rel, lhs, rhs")
      }),

    // FORWARD as-of join (AsOf.asofJoinForward): every error event
    // attached to the user's EARLIEST purchase at-or-after it — the
    // next-event/SLA mirror of x31's backward as-of. Micros on both
    // sides; simultaneous purchases tie-break on value ascending.
    QueryDef(
      "x141_asof_forward",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("p_tus"), col("value"))
        graft.ops.AsOf.asofJoinForward(errors, purchases, "user_id",
            "tus", "p_tus", rightTieBreak = Some("value"))
          .select(col("event_id"), col("user_id"), col("tus"),
            col("next_p_tus"), col("next_value"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus
             |  FROM events WHERE event_type = 'error'
             |), p AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_tus, value
             |  FROM events WHERE event_type = 'purchase'
             |)
             |SELECT e.event_id, e.user_id, e.tus, n.p_tus AS next_p_tus,
             |       n.value AS next_value
             |FROM e LEFT JOIN LATERAL (
             |  SELECT p.p_tus, p.value FROM p
             |  WHERE p.user_id = e.user_id AND p.p_tus >= e.tus
             |  ORDER BY p.p_tus, p.value LIMIT 1) n ON TRUE
             |ORDER BY event_id""".stripMargin)),

    // Corpus datasheet (Gebru et al. 2018 "Datasheets for Datasets", the
    // quantitative rows): per source — volume, token mass, exact-dup
    // rate (corpus-wide content-hash multiplicity), mean quality on a
    // 1e-9 fixed-point grid (order-free integer sums of the shared x02
    // expression). ONE plan: a scan projection, one hash aggregate for
    // multiplicity, one broadcast-back join, one grouped rollup.
    QueryDef(
      "x140_corpus_datasheet",
      (s, dir) => {
        import graft.ext.TextAnalysis
        val docs = Tables(s, dir).documents
        val hashed = docs.select(col("source"),
          length(col("text")).cast("long").as("n_chars"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
          floor(TextAnalysis.qualityScoreExpr * lit(1e9) + lit(0.5)).cast("long")
            .as("q_fp"),
          md5(col("text").cast("binary")).as("h"))
        val mult = hashed.groupBy("h").agg(count(lit(1)).as("hc"))
        hashed.join(mult, Seq("h"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(col("n_tokens")).as("total_tokens"),
            sum(when(col("hc") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
            sum(col("q_fp")).as("q_sum_fp"))
          .select(col("source"), col("n_docs"), col("total_chars"),
            col("total_tokens"), col("n_dup_docs"),
            (col("n_dup_docs").cast("double") / col("n_docs")).as("dup_rate"),
            (col("q_sum_fp").cast("double") / col("n_docs") / lit(1e9))
              .as("mean_quality"))
          .orderBy("source")
      },
      Some {
        val stopList = graft.ext.TextAnalysis.EnStopwords
          .map(w => s"'$w'").mkString(", ")
        raw"""WITH t AS (
             |  SELECT doc_id, source, text,
             |         string_split_regex(trim(text), '\s+') AS ts,
             |         md5(text) AS h
             |  FROM documents
             |), m AS (
             |  SELECT source, h,
             |         CAST(length(text) AS BIGINT) AS n_chars,
             |         CAST(length(ts) AS BIGINT) AS n_tokens,
             |         CAST(FLOOR((0.4 * (CAST(length(list_filter(ts, x -> x IN ($stopList))) AS DOUBLE) / length(ts))
             |           + 0.3 * (1.0 - CAST(length(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / greatest(length(text), 1))
             |           + 0.3 * least(1.0, CAST(length(ts) AS DOUBLE) / 100.0)) * 1000000000.0 + 0.5) AS BIGINT) AS q_fp
             |  FROM t
             |), mult AS (
             |  SELECT h, CAST(COUNT(*) AS BIGINT) AS hc FROM m GROUP BY 1
             |)
             |SELECT m.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(m.n_chars) AS BIGINT) AS total_chars,
             |       CAST(SUM(m.n_tokens) AS BIGINT) AS total_tokens,
             |       CAST(SUM(CASE WHEN mult.hc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
             |       CAST(SUM(CASE WHEN mult.hc > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_rate,
             |       CAST(SUM(m.q_fp) AS DOUBLE) / COUNT(*) / 1000000000.0 AS mean_quality
             |FROM m JOIN mult USING (h)
             |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Multi-source BFS over the near-dup graph (Graph.bfsDistances):
    // exact hop distances within 4 rounds from the three lowest-id
    // vertices that HAVE an edge (a bounded 3-row driver read — pinned
    // ids can be isolated at small SF, which would make the walk
    // trivial) — the contamination-blast-radius traversal. Same banded
    // edge set as x73 (sparse capped since round 12, sharing the
    // PageRank family's memoized pair set); oracle unrolls carry ∪
    // relax → min per vertex.
    QueryDef(
      "x137_bfs_distances",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        val dup = Similarity.annPairs(emb, 0.4,
          Similarity.SparseBands, Similarity.SparseBandBits, Similarity.SparseBucketCap)
        val edges = dup.select(col("vec_a").as("src"), col("vec_b").as("dst"))
          .union(dup.select(col("vec_b").as("src"), col("vec_a").as("dst")))
        val seeds = edges.select(col("src")).distinct()
          .orderBy("src").limit(3).collect().map(_.getLong(0)).toSeq
        graft.ops.Graph.bfsDistances(edges, seeds, rounds = 4)
          .orderBy("v")
      },
      Some {
        val base = bandCandSql(Similarity.SparseBands, Similarity.SparseBandBits,
          Similarity.SparseBucketCap) +
          dupCteSql() + """, sym AS (
            |  SELECT vec_a AS src, vec_b AS dst FROM dup
            |  UNION ALL
            |  SELECT vec_b, vec_a FROM dup
            |), d0 AS (
            |  SELECT v, CAST(0 AS BIGINT) AS dist
            |  FROM (SELECT DISTINCT src AS v FROM sym ORDER BY src LIMIT 3) s
            |)""".stripMargin
        val roundsSql = (1 to 4).map { k =>
          s""", d$k AS (
             |  SELECT v, CAST(MIN(dist) AS BIGINT) AS dist FROM (
             |    SELECT v, dist FROM d${k - 1}
             |    UNION ALL
             |    SELECT e2.dst AS v, d.dist + 1 AS dist
             |    FROM sym e2 JOIN d${k - 1} d ON d.v = e2.src
             |  ) GROUP BY v
             |)""".stripMargin
        }.mkString
        base + roundsSql + "\nSELECT v, dist FROM d4 ORDER BY v"
      }),

    // Top principal component (Similarity.pcaTopComponent): power
    // iteration on the x132 covariance in BIGINT fixed point, integer
    // max-renormalization per round (the PageRank convention). The
    // matvec is 64×64 against a 64-row vector — iteration cost is
    // independent of corpus size once the covariance pass is paid.
    QueryDef(
      "x136_pca_top_component",
      (s, dir) => graft.ext.Similarity.pcaTopComponent(Tables(s, dir).embeddings)
        .orderBy("dim"),
      Some(PcaOracleSql)),

    // Bloom-filter ingest screen (ops.Bloom.screen): even doc_ids play the
    // existing corpus, odd ones the incoming batch; every incoming doc
    // reports its k-position Bloom verdict plus the exact-membership audit
    // (no false negatives by construction; fp rate measurable from the
    // pair). The oracle replays membership in positions-set form — the
    // bit-packed words are the Spark side's broadcast optimization, not a
    // semantic.
    QueryDef(
      "x158_bloom_screen",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        graft.ops.Bloom.screen(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1))
          .orderBy("doc_id")
      },
      Some(
        raw"""WITH ex AS (
             |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 0
             |), inc AS (
             |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
             |), expos AS (
             |  SELECT DISTINCT ((CAST(('0x'||substring(h,1,8)) AS BIGINT)
             |          + j.j * CAST(('0x'||substring(h,9,8)) AS BIGINT)) % 65536) AS pos
             |  FROM ex CROSS JOIN generate_series(0, 3) j(j)
             |), incpos AS (
             |  SELECT doc_id, ((CAST(('0x'||substring(h,1,8)) AS BIGINT)
             |          + j.j * CAST(('0x'||substring(h,9,8)) AS BIGINT)) % 65536) AS pos
             |  FROM inc CROSS JOIN generate_series(0, 3) j(j)
             |), hits AS (
             |  SELECT i.doc_id,
             |         CAST(MIN(CASE WHEN p.pos IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS bloom_hit
             |  FROM incpos i LEFT JOIN expos p ON p.pos = i.pos
             |  GROUP BY 1
             |), exact AS (
             |  SELECT i.doc_id,
             |         CAST(CASE WHEN eh.h IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_dup
             |  FROM inc i LEFT JOIN (SELECT DISTINCT h FROM ex) eh ON eh.h = i.h
             |)
             |SELECT h.doc_id, h.bloom_hit, e.exact_dup
             |FROM hits h JOIN exact e USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // k-anonymity audit (Pipeline.kAnonymityAudit): per QI-lattice level
    // over (c_mktsegment, c_nationkey), class counts and the suppression
    // fraction needed to reach k=5 — exact BIGINTs, one double division.
    QueryDef(
      "x159_k_anonymity",
      (s, dir) => graft.ext.Pipeline.kAnonymityAudit(
          Tables(s, dir).customer, "c_mktsegment", "c_nationkey", 5)
        .orderBy("qi_level"),
      Some(
        raw"""WITH classes AS (
             |  SELECT GROUPING(c_mktsegment, c_nationkey) AS gid,
             |         CAST(COUNT(*) AS BIGINT) AS class_size
             |  FROM customer
             |  GROUP BY GROUPING SETS ((c_mktsegment, c_nationkey),
             |                          (c_mktsegment), (c_nationkey))
             |)
             |SELECT CASE gid WHEN 0 THEN 'c_mktsegment+c_nationkey'
             |                WHEN 1 THEN 'c_mktsegment'
             |                ELSE 'c_nationkey' END AS qi_level,
             |       CAST(COUNT(*) AS BIGINT) AS n_classes,
             |       CAST(MIN(class_size) AS BIGINT) AS min_class_size,
             |       CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT)
             |         AS rows_below_k,
             |       CAST(SUM(class_size) AS BIGINT) AS n_rows,
             |       CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS DOUBLE)
             |         / CAST(SUM(class_size) AS DOUBLE) AS suppression_rate
             |FROM classes GROUP BY gid ORDER BY qi_level""".stripMargin)),

    // Deterministic HyperLogLog (ops.Hll.cardinalityByGroup): per-source
    // distinct-text estimate whose registers, fixed-point harmonic sum,
    // and correction branch the oracle replays exactly (md5-derived hash,
    // integer bit-length ranks — x19's contrast: Spark's native HLL++ can
    // only be tolerance-gated, this one is value-gated).
    QueryDef(
      "x160_hll_source_cardinality",
      (s, dir) => graft.ops.Hll.cardinalityByGroup(
          Tables(s, dir).documents, "source", "text")
        .orderBy("source"),
      Some(HllOracleSql)),

    // Time-decayed per-user activity: recency-weighted engagement with a
    // STAIRCASE exponential decay — weight 2^(-age_days), halving per
    // whole day since the corpus' newest event. Powers of two make every
    // weight an EXACT double (no libm exp whose last ulp differs between
    // engines), each term rounds onto a 1e-6 fixed-point BIGINT grid, and
    // the per-user sum is integer — order-free under any partitioning, so
    // the serial oracle replays the distributed aggregate bit-for-bit.
    // The raw money-sum rides along as the undecayed comparand.
    QueryDef(
      "x161_decayed_activity",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val mx = ev.agg(max(col("ts")).as("max_ts"))
        ev.crossJoin(broadcast(mx))
          .select(col("user_id"), col("value"),
            expr("cast((unix_micros(max_ts) - unix_micros(ts)) div 86400000000 as int)")
              .as("age_days"))
          .select(col("user_id"), col("value"),
            floor(col("value") / pow(lit(2.0), col("age_days")) * lit(1e6) + lit(0.5))
              .cast("long").as("term_fp"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            moneySum(col("value")).as("raw_value"),
            sum(col("term_fp")).as("decayed_fp"))
          .withColumn("decayed_value", col("decayed_fp").cast("double") / lit(1e6))
          .orderBy("user_id")
      },
      Some(
        raw"""WITH mx AS (
             |  SELECT max(CAST(ts AS TIMESTAMP)) AS max_ts FROM events
             |), aged AS (
             |  SELECT user_id, value,
             |         CAST((epoch_us(max_ts) - epoch_us(CAST(ts AS TIMESTAMP)))
             |           // 86400000000 AS INT) AS age_days
             |  FROM events, mx
             |), terms AS (
             |  SELECT user_id, value,
             |         CAST(floor(value / power(2.0, age_days) * 1000000.0 + 0.5) AS BIGINT)
             |           AS term_fp
             |  FROM aged
             |)
             |SELECT user_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_events,
             |       ${sqlMoneySum("value")} AS raw_value,
             |       CAST(SUM(term_fp) AS BIGINT) AS decayed_fp,
             |       CAST(SUM(term_fp) AS DOUBLE) / 1000000.0 AS decayed_value
             |FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Day-of-week seasonality profile with chi-square contributions: per
    // (event_type, dow) the observed count against a uniform-week
    // expectation — the load-shape diagnostic a scheduler or anomaly
    // baseline reads. Counts exact; expected and contribution are single
    // double expressions from them (Spark dayofweek is Sunday=1; DuckDB's
    // Sunday=0 shifts by one in the oracle).
    QueryDef(
      "x163_event_seasonality",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val counts = ev
          .select(col("event_type"), dayofweek(col("ts")).cast("int").as("dow"))
          .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
        val totals = counts.groupBy("event_type").agg(sum(col("n")).as("total"))
        val e = col("total").cast("double") / lit(7.0)
        counts.join(totals, Seq("event_type"))
          .select(col("event_type"), col("dow"), col("n"), col("total"),
            e.as("expected"),
            ((col("n").cast("double") - e) * (col("n").cast("double") - e) / e)
              .as("chi2_contrib"))
          .orderBy("event_type", "dow")
      },
      Some(
        raw"""WITH c AS (
             |  SELECT event_type,
             |         CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INT) AS dow,
             |         CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2
             |), t AS (
             |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY 1
             |)
             |SELECT c.event_type, c.dow, c.n, t.total,
             |       CAST(total AS DOUBLE) / 7.0 AS expected,
             |       (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) / 7.0)
             |         * (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) / 7.0)
             |         / (CAST(total AS DOUBLE) / 7.0) AS chi2_contrib
             |FROM c JOIN t USING (event_type)
             |ORDER BY event_type, dow""".stripMargin)),

    // Inter-arrival-time percentiles: per event type, exact p50/p90/p99 of
    // the gap (seconds) between a user's consecutive events of that type —
    // the cadence profile rate limiters and session-timeout tuning read.
    // Gaps are integer seconds from the lag window (deterministic
    // (ts, event_id) ordering); percentile() is bit-identical to DuckDB's
    // quantile_cont (the x20-proven pair).
    QueryDef(
      "x164_interarrival_percentiles",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("us"), col("event_id"))
        ev.select(col("user_id"), col("event_type"), col("event_id"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("prev_us", lag(col("us"), 1).over(w))
          .filter(col("prev_us").isNotNull)
          .select(col("event_type"), expr("(us - prev_us) div 1000000").as("gap_s"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"),
            expr("percentile(gap_s, 0.5)").as("p50_s"),
            expr("percentile(gap_s, 0.9)").as("p90_s"),
            expr("percentile(gap_s, 0.99)").as("p99_s"))
          .orderBy("event_type")
      },
      Some(
        raw"""WITH e AS (
             |  SELECT user_id, event_type, event_id,
             |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events
             |), g AS (
             |  SELECT event_type,
             |         (us - lag(us) OVER (PARTITION BY user_id, event_type
             |                             ORDER BY us, event_id)) // 1000000 AS gap_s
             |  FROM e
             |)
             |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             |       quantile_cont(gap_s, 0.5) AS p50_s,
             |       quantile_cont(gap_s, 0.9) AS p90_s,
             |       quantile_cont(gap_s, 0.99) AS p99_s
             |FROM g WHERE gap_s IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // l-diversity audit (Pipeline.lDiversityAudit): x159's companion —
    // per (segment, nation) class, how many DISTINCT sensitive values
    // (account-balance sign) its members span; a k-anonymous class whose
    // members all share one value still leaks it (homogeneity attack).
    QueryDef(
      "x165_l_diversity",
      (s, dir) => graft.ext.Pipeline.lDiversityAudit(
          Tables(s, dir).customer, "c_mktsegment", "c_nationkey",
          when(col("c_acctbal") < 0, "debit").otherwise("credit"), 2)
        .orderBy("c_mktsegment", "c_nationkey"),
      Some(
        raw"""SELECT c_mktsegment, c_nationkey,
             |       CAST(COUNT(*) AS BIGINT) AS class_size,
             |       CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'debit'
             |                                ELSE 'credit' END) AS BIGINT) AS n_sensitive,
             |       CAST(CASE WHEN COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'debit'
             |                                          ELSE 'credit' END) >= 2
             |                 THEN 1 ELSE 0 END AS INT) AS diverse_ok
             |FROM customer
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Markov steady-state estimate of the event-type chain: row-normalize
    // the per-user transition counts (x109's lag machinery) into 1e-6
    // fixed-point probabilities, then three synchronous power-iteration
    // rounds from the uniform vector — all BIGINT (term-wise
    // pi·p div 1e6, the PageRank integer convention), so any partitioning
    // yields identical bits and the oracle unrolls the three rounds as
    // CTEs. States here are 5 event types; the join/aggregate shape is
    // the one that scales when states are millions of SKUs or pages.
    QueryDef(
      "x166_markov_stationary",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        val trans = ev
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
          .agg(count(lit(1)).as("c"))
        val outSum = trans.groupBy("src").agg(sum(col("c")).as("tot"))
        val p = trans.join(outSum, Seq("src"))
          .select(col("src"), col("dst"), expr("(c * 1000000L) div tot").as("p_fp"))
        val states = trans.select(col("src").as("state")).distinct()
        val n = states.count() // bounded: the number of event types
        var pi = states.select(col("state"), lit(1000000L / n).as("pi_fp"))
        (1 to 3).foreach { _ =>
          pi = pi.join(p, pi("state") === p("src"))
            .select(col("dst").as("state"),
              expr("(pi_fp * p_fp) div 1000000").as("term"))
            .groupBy("state").agg(sum(col("term")).as("pi_fp"))
        }
        pi.select(col("state"), col("pi_fp"),
            (col("pi_fp").cast("double") / lit(1e6)).as("pi"))
          .orderBy("state")
      },
      Some(
        raw"""WITH e AS (
             |  SELECT user_id, event_id, event_type,
             |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events
             |), seq AS (
             |  SELECT event_type AS src,
             |         lead(event_type) OVER (PARTITION BY user_id
             |                                ORDER BY us, event_id) AS dst
             |  FROM e
             |), trans AS (
             |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
             |), outsum AS (
             |  SELECT src, CAST(SUM(c) AS BIGINT) AS tot FROM trans GROUP BY 1
             |), p AS (
             |  SELECT t.src, t.dst, (t.c * 1000000) // o.tot AS p_fp
             |  FROM trans t JOIN outsum o USING (src)
             |), states AS (
             |  SELECT DISTINCT src AS state FROM trans
             |), pi0 AS (
             |  SELECT state, 1000000 // (SELECT COUNT(*) FROM states) AS pi_fp
             |  FROM states
             |), pi1 AS (
             |  SELECT p.dst AS state, CAST(SUM((pi.pi_fp * p.p_fp) // 1000000) AS BIGINT) AS pi_fp
             |  FROM pi0 pi JOIN p ON p.src = pi.state GROUP BY 1
             |), pi2 AS (
             |  SELECT p.dst AS state, CAST(SUM((pi.pi_fp * p.p_fp) // 1000000) AS BIGINT) AS pi_fp
             |  FROM pi1 pi JOIN p ON p.src = pi.state GROUP BY 1
             |), pi3 AS (
             |  SELECT p.dst AS state, CAST(SUM((pi.pi_fp * p.p_fp) // 1000000) AS BIGINT) AS pi_fp
             |  FROM pi2 pi JOIN p ON p.src = pi.state GROUP BY 1
             |)
             |SELECT state, pi_fp, CAST(pi_fp AS DOUBLE) / 1000000.0 AS pi
             |FROM pi3 ORDER BY state""".stripMargin)),

    // Rendezvous-sharding resize audit (ops.Sharding.resizeMovement):
    // growing 16 -> 20 shards under HRW moves ~4/20 of keys; modulo
    // sharding reshuffles ~19/20. h(key, shard) is total-order stateless
    // (no ring metadata), every assignment one md5 — serially replayable.
    QueryDef(
      "x168_shard_resize_audit",
      (s, dir) => graft.ops.Sharding.resizeMovement(
        Tables(s, dir).documents, "doc_id", 16, 20),
      Some(
        raw"""WITH keys AS (
             |  SELECT doc_id AS key FROM documents
             |), wts AS (
             |  SELECT key, t.s AS shard,
             |         CAST(('0x' || substring(md5(CAST(key AS VARCHAR) || '|'
             |           || CAST(t.s AS VARCHAR)), 1, 8)) AS BIGINT) AS hw
             |  FROM keys, unnest(generate_series(0, 19)) AS t(s)
             |), neww AS (
             |  SELECT key, shard AS new_shard FROM (
             |    SELECT key, shard,
             |           ROW_NUMBER() OVER (PARTITION BY key ORDER BY hw DESC, shard ASC) AS rn
             |    FROM wts) x WHERE rn = 1
             |), oldw AS (
             |  SELECT key, shard AS old_shard FROM (
             |    SELECT key, shard,
             |           ROW_NUMBER() OVER (PARTITION BY key ORDER BY hw DESC, shard ASC) AS rn
             |    FROM wts WHERE shard < 16) x WHERE rn = 1
             |), joined AS (
             |  SELECT o.key, o.old_shard, n.new_shard,
             |         o.key % 16 AS old_mod, o.key % 20 AS new_mod
             |  FROM oldw o JOIN neww n USING (key)
             |)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             |       CAST(SUM(CASE WHEN old_shard <> new_shard THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_moved_hrw,
             |       CAST(SUM(CASE WHEN old_mod <> new_mod THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_moved_mod,
             |       CAST(SUM(CASE WHEN old_shard <> new_shard THEN 1 ELSE 0 END) AS DOUBLE)
             |         / CAST(COUNT(*) AS DOUBLE) AS frac_moved_hrw,
             |       CAST(SUM(CASE WHEN old_mod <> new_mod THEN 1 ELSE 0 END) AS DOUBLE)
             |         / CAST(COUNT(*) AS DOUBLE) AS frac_moved_mod
             |FROM joined""".stripMargin)),

    // Top 3-step event paths: the most common type->type->type sequences
    // per user journey (lead twice over the per-user order), exact counts,
    // deterministic top-20 (count desc, path asc) — the journey-mining
    // step beyond x109's single transitions and x166's steady state.
    QueryDef(
      "x170_event_paths",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        val wr = Window.orderBy(col("n").desc, col("path").asc)
        ev.select(col("user_id"), col("event_id"), col("event_type"),
            expr("unix_micros(ts)").as("us"))
          .withColumn("t2", lead(col("event_type"), 1).over(w))
          .withColumn("t3", lead(col("event_type"), 2).over(w))
          .filter(col("t2").isNotNull && col("t3").isNotNull)
          .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .withColumn("rank", row_number().over(wr).cast("long"))
          .filter(col("rank") <= 20)
          .select("rank", "path", "n")
          .orderBy("rank")
      },
      Some(
        raw"""WITH e AS (
             |  SELECT user_id, event_id, event_type,
             |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events
             |), seq AS (
             |  SELECT event_type AS t1,
             |         lead(event_type, 1) OVER w AS t2,
             |         lead(event_type, 2) OVER w AS t3
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
             |), paths AS (
             |  SELECT t1 || '>' || t2 || '>' || t3 AS path, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1
             |)
             |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path ASC) AS BIGINT) AS rank,
             |       path, n
             |FROM paths QUALIFY rank <= 20 ORDER BY rank""".stripMargin)),

    // Lag-1 autocorrelation of the daily event count — "does a busy day
    // predict a busy tomorrow": exact daily counts, exact integer
    // sufficient statistics over (yesterday, today) pairs, and the x41
    // CorrFormula as the one shared IEEE tree. The global lag window runs
    // over one row per DAY (bounded by the calendar), not per event.
    QueryDef(
      "x171_daily_autocorrelation",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val daily = ev.groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val w = Window.orderBy(col("day"))
        daily.withColumn("x", lag(col("y"), 1).over(w))
          .filter(col("x").isNotNull)
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("y") * col("y")).as("syy"))
          .selectExpr("n", "sx", "sy", s"$CorrFormula AS autocorr")
      },
      Some(
        raw"""WITH daily AS (
             |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             |         CAST(COUNT(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1
             |), pairs AS (
             |  SELECT lag(y) OVER (ORDER BY day) AS x, y FROM daily
             |), st AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |         CAST(SUM(x * x) AS BIGINT) AS sxx,
             |         CAST(SUM(x * y) AS BIGINT) AS sxy,
             |         CAST(SUM(y * y) AS BIGINT) AS syy
             |  FROM pairs WHERE x IS NOT NULL
             |)
             |SELECT n, sx, sy, $CorrFormula AS autocorr FROM st""".stripMargin))
  )

  /** Oracle for x160: the HLL pipeline unrolled — md5-derived 32-bit hash,
    * 64 buckets, integer bit-length ranks, fixed-point harmonic sum, and
    * the linear-counting small-range branch, mirroring ops.Hll exactly
    * (m=64, remainder 26 bits, scale 2^27 = 134217728). */
  private lazy val HllOracleSql: String = {
    val est = "(0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 * 134217728.0" +
      " / CAST(sum_fp AS DOUBLE)"
    val corrected =
      s"""CASE WHEN $est <= 2.5 * 64.0 AND v_empty > 0
         |     THEN 64.0 * ln(64.0 / CAST(v_empty AS DOUBLE))
         |     ELSE $est END""".stripMargin
    raw"""WITH h AS (
         |  SELECT source, CAST(('0x'||substring(md5(text),1,8)) AS BIGINT) AS hv
         |  FROM documents WHERE text IS NOT NULL
         |), regs AS (
         |  SELECT source, hv % 64 AS bucket,
         |         MAX(CASE WHEN hv // 64 > 0 THEN 27 - length(bin(hv // 64))
         |                  ELSE 27 END) AS reg
         |  FROM h GROUP BY 1, 2
         |), pg AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |         CAST(SUM(1::BIGINT << (27 - reg)) AS BIGINT) AS sum_fp_present
         |  FROM regs GROUP BY 1
         |), ex AS (
         |  SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT) AS n_exact
         |  FROM documents GROUP BY 1
         |), withfp AS (
         |  SELECT ex.source, ex.n_exact,
         |         CAST(64 - COALESCE(pg.n_buckets, 0) AS BIGINT) AS v_empty,
         |         CAST(COALESCE(pg.sum_fp_present, 0)
         |           + (64 - COALESCE(pg.n_buckets, 0)) * 134217728 AS BIGINT) AS sum_fp
         |  FROM ex LEFT JOIN pg USING (source)
         |)
         |SELECT source, v_empty, sum_fp, n_exact,
         |       round($corrected, 6) AS hll_estimate,
         |       CASE WHEN n_exact > 0 THEN
         |         round(abs(round($corrected, 6) - CAST(n_exact AS DOUBLE))
         |           / CAST(n_exact AS DOUBLE), 6) END AS rel_error
         |FROM withfp ORDER BY source""".stripMargin
  }

  /** Oracle for x82: the two HITS rounds unrolled — per round, raw auth
    * sums over in-edges, integer max-renormalization, raw hub sums over
    * out-edges, renormalization again; BIGINT throughout. */
  private lazy val hitsOracleSql: String = {
    val base = 1000000L
    val graph = bandCandSql(Similarity.AnnBands, Similarity.AnnBandBits, 0) +
      dupCteSql() + s""", ed AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM dup
         |), h0 AS (
         |  SELECT vec_id AS id, CAST($base AS BIGINT) AS hub FROM embeddings
         |)""".stripMargin
    val rounds = (1 to 2).map { i =>
      s""", ar$i AS (
         |  SELECT v.vec_id AS id, CAST(COALESCE(t.s, 0) AS BIGINT) AS raw
         |  FROM embeddings v LEFT JOIN (
         |    SELECT e2.dst, SUM(h.hub) AS s
         |    FROM ed e2 JOIN h${i - 1} h ON h.id = e2.src GROUP BY 1) t
         |  ON t.dst = v.vec_id
         |), am$i AS (
         |  SELECT greatest(MAX(raw), 1) AS m FROM ar$i
         |), a$i AS (
         |  SELECT id, CAST((raw * $base) // (SELECT m FROM am$i) AS BIGINT) AS auth FROM ar$i
         |), hr$i AS (
         |  SELECT v.vec_id AS id, CAST(COALESCE(t.s, 0) AS BIGINT) AS raw
         |  FROM embeddings v LEFT JOIN (
         |    SELECT e2.src, SUM(a.auth) AS s
         |    FROM ed e2 JOIN a$i a ON a.id = e2.dst GROUP BY 1) t
         |  ON t.src = v.vec_id
         |), hm$i AS (
         |  SELECT greatest(MAX(raw), 1) AS m FROM hr$i
         |), h$i AS (
         |  SELECT id, CAST((raw * $base) // (SELECT m FROM hm$i) AS BIGINT) AS hub FROM hr$i
         |)""".stripMargin
    }.mkString
    graph + rounds +
      """
        |SELECT h2.id AS vec_id, h2.hub, a2.auth
        |FROM h2 JOIN a2 ON a2.id = h2.id
        |ORDER BY vec_id""".stripMargin
  }

  /** Oracle for x79: pinned-IVF route → residual → PQ encode/decode →
    * probe → ADC score, composed from the same CTE conventions as
    * [[pqCteSql]] and the x17/x18 IVF oracles. */
  private lazy val ivfPqOracleSql: String = {
    val m = Similarity.PqSubspaces
    val d = Similarity.PqSubDim
    val k = Similarity.PqCodebookSize
    val dim = Similarity.Dim
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |), c AS (
       |  SELECT CAST(vec_id AS INT) AS cid, emb AS cemb FROM e WHERE vec_id < 16
       |), asg AS (
       |  SELECT vec_id, emb, cluster, cemb FROM (
       |    SELECT e.vec_id, e.emb, c.cid AS cluster, c.cemb,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY list_dot_product(e.emb, c.cemb) DESC, c.cid ASC) AS rn
       |    FROM e, c) r
       |  WHERE rn = 1
       |), res AS (
       |  SELECT vec_id, cluster,
       |         list_transform(generate_series(1, $dim), i -> emb[i] - cemb[i]) AS remb
       |  FROM asg
       |), sub AS (
       |  SELECT unnest(generate_series(0, ${m - 1})) AS s
       |), v AS (
       |  SELECT res.vec_id, sub.s, list_slice(res.remb, sub.s*$d + 1, sub.s*$d + $d) AS x
       |  FROM res, sub
       |), cb AS (
       |  SELECT CAST(vec_id - 16 AS INT) AS cid, s, x AS cslice
       |  FROM v WHERE vec_id >= 16 AND vec_id < ${16 + k}
       |), enc AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT v.vec_id, v.s, c2.cid AS code,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
       |             ORDER BY list_dot_product(v.x, v.x) + list_dot_product(c2.cslice, c2.cslice)
       |                      - 2.0 * list_dot_product(v.x, c2.cslice) ASC, c2.cid ASC) AS rn
       |    FROM v JOIN cb c2 ON c2.s = v.s) r
       |  WHERE rn = 1
       |), rec AS (
       |  SELECT en.vec_id, flatten(list(c2.cslice ORDER BY en.s)) AS recon
       |  FROM enc en JOIN cb c2 ON c2.s = en.s AND c2.cid = en.code
       |  GROUP BY en.vec_id
       |), q AS (
       |  SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 10
       |), probe AS (
       |  SELECT qid, qemb, cluster, cemb FROM (
       |    SELECT q.qid, q.qemb, c.cid AS cluster, c.cemb,
       |           ROW_NUMBER() OVER (PARTITION BY q.qid
       |             ORDER BY list_dot_product(q.qemb, c.cemb) DESC, c.cid ASC) AS rn
       |    FROM q, c) r
       |  WHERE rn <= 4
       |), candq AS (
       |  SELECT p.qid, a.vec_id AS neighbor_id,
       |         list_dot_product(p.qemb, p.cemb) + list_dot_product(p.qemb, rec.recon) AS adc_score
       |  FROM probe p
       |  JOIN asg a ON a.cluster = p.cluster
       |  JOIN rec ON rec.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.qid
       |)
       |SELECT qid, rank, neighbor_id, adc_score FROM (
       |  SELECT qid, neighbor_id, adc_score,
       |         ROW_NUMBER() OVER (PARTITION BY qid
       |           ORDER BY adc_score DESC, neighbor_id ASC) AS rank
       |  FROM candq) r
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** Shared PQ oracle CTE chain (x70/x71): sub-vector explode, pinned
    * codebook (vec_id < K), per-(vector, subspace) argmin encode, and the
    * reconstruction — the exact SQL replay of
    * [[graft.ext.Similarity.pqEncode]]'s d² = x·x + c·c − 2·x·c decisions.
    */
  private lazy val pqCteSql: String = {
    val m = Similarity.PqSubspaces
    val d = Similarity.PqSubDim
    val k = Similarity.PqCodebookSize
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |), sub AS (
       |  SELECT unnest(generate_series(0, ${m - 1})) AS s
       |), v AS (
       |  SELECT e.vec_id, sub.s, list_slice(e.emb, sub.s*$d + 1, sub.s*$d + $d) AS x
       |  FROM e, sub
       |), cb AS (
       |  SELECT CAST(vec_id AS INT) AS cid, s, x AS cslice FROM v WHERE vec_id < $k
       |), enc AS (
       |  SELECT vec_id, s, cid AS code FROM (
       |    SELECT v.vec_id, v.s, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
       |             ORDER BY list_dot_product(v.x, v.x) + list_dot_product(c.cslice, c.cslice)
       |                      - 2.0 * list_dot_product(v.x, c.cslice) ASC, c.cid ASC) AS rn
       |    FROM v JOIN cb c ON c.s = v.s) r
       |  WHERE rn = 1
       |), rec AS (
       |  SELECT en.vec_id, flatten(list(c.cslice ORDER BY en.s)) AS recon
       |  FROM enc en JOIN cb c ON c.s = en.s AND c.cid = en.code
       |  GROUP BY en.vec_id
       |)""".stripMargin
  }

  /** The unrolled trained-PQ CTE chain (x75): the exact SQL replay of
    * [[graft.ext.Similarity.pqTrain]] + encode. cb0 = the pinned
    * codebook, then per Lloyd step i — per-(subspace, code, dim) snapped
    * means of the previous assignment (m_i), empty codewords keeping
    * cb_{i-1}'s row (LEFT JOIN + COALESCE), re-assignment (enc_i). The
    * final encode `encf` runs against the last codebook, then
    * reconstruction — identical tail to [[pqCteSql]]. Snap grid 1e6 =
    * [[graft.ext.Similarity.PqSnapScale]].
    */
  private lazy val pqTrainedCteSql: String = {
    val m = Similarity.PqSubspaces
    val d = Similarity.PqSubDim
    val k = Similarity.PqCodebookSize
    val iters = Similarity.PqTrainIters
    def argmin(cbName: String): String =
      s"""  SELECT vec_id, s, code FROM (
         |    SELECT v.vec_id, v.s, c.cid AS code,
         |           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
         |             ORDER BY list_dot_product(v.x, v.x) + list_dot_product(c.cslice, c.cslice)
         |                      - 2.0 * list_dot_product(v.x, c.cslice) ASC, c.cid ASC) AS rn
         |    FROM v JOIN $cbName c ON c.s = v.s) r
         |  WHERE rn = 1""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
              |), sub AS (
              |  SELECT unnest(generate_series(0, ${m - 1})) AS s
              |), v AS (
              |  SELECT e.vec_id, sub.s, list_slice(e.emb, sub.s*$d + 1, sub.s*$d + $d) AS x
              |  FROM e, sub
              |), cb0 AS (
              |  SELECT CAST(vec_id AS INT) AS cid, s, x AS cslice FROM v WHERE vec_id < $k
              |), enc0 AS (
              |${argmin("cb0")}
              |)""".stripMargin
    for (i <- 1 to iters) {
      sb ++= s""", m$i AS (
                |  SELECT v.s, en.code, u.i AS dim,
                |         FLOOR(AVG(v.x[u.i]) * 1000000 + 0.5) / 1000000 AS m
                |  FROM v JOIN enc${i - 1} en ON en.vec_id = v.vec_id AND en.s = v.s
                |  CROSS JOIN (SELECT unnest(generate_series(1, $d)) AS i) u
                |  GROUP BY 1, 2, 3
                |), ml$i AS (
                |  SELECT s, code, list(m ORDER BY dim) AS ml FROM m$i GROUP BY 1, 2
                |), cb$i AS (
                |  SELECT c.s, c.cid, COALESCE(ml.ml, c.cslice) AS cslice
                |  FROM cb${i - 1} c LEFT JOIN ml$i ml ON ml.s = c.s AND ml.code = c.cid
                |), enc$i AS (
                |${argmin(s"cb$i")}
                |)""".stripMargin
    }
    sb ++= s""", encf AS (
              |  SELECT vec_id, s, code FROM enc$iters
              |), rec AS (
              |  SELECT en.vec_id, flatten(list(c.cslice ORDER BY en.s)) AS recon
              |  FROM encf en JOIN cb$iters c ON c.s = en.s AND c.cid = en.code
              |  GROUP BY en.vec_id
              |)""".stripMargin
    sb.toString
  }

  /** BM25 oracle: the exact SQL twin of [[graft.ext.TextAnalysis.bm25]].
    * Constants are embedded via Double.toString (shortest round-trip
    * representation — parses back to the identical double in both
    * engines), and the idf snap / term-order sum replicate the Spark
    * expression tree textually.
    */
  private def bm25OracleSql(terms: Seq[String], k1: Double, b: Double): String = {
    val tfCols = terms.map(t =>
      s"CAST(length(list_filter(ts, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n         ")
    val dfCols = terms.map(t =>
      s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n         ")
    val avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    val norm = s"(${(1.0 - b).toString} + ${b.toString} * (CAST(dl AS DOUBLE) / $avgdl))"
    val score = terms.map { t =>
      val idf = s"(FLOOR(ln((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5)" +
        s" / (CAST(df_$t AS DOUBLE) + 0.5) + 1.0) * 1.0E9 + 0.5) / 1.0E9)"
      s"$idf * ((CAST(tf_$t AS DOUBLE) * ${(k1 + 1.0).toString})" +
        s" / (CAST(tf_$t AS DOUBLE) + ${k1.toString} * $norm))"
    }.mkString("\n         + ")
    raw"""WITH tok AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents
         |), base AS (
         |  SELECT doc_id, CAST(length(ts) AS BIGINT) AS dl,
         |         $tfCols
         |  FROM tok
         |), stats AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
         |         $dfCols
         |  FROM base
         |)
         |SELECT doc_id, dl, ${terms.map(t => s"tf_$t").mkString(", ")},
         |       $score AS bm25
         |FROM base, stats
         |WHERE $score > 0 ORDER BY doc_id""".stripMargin
  }

  /** The unrolled snapped-Lloyd CTE chain shared by x57/x58: c0 = the
    * first k vectors, then per iteration i — per-dim snapped means of
    * the previous assignment (m_i), re-normalized re-snapped centroids
    * (c_i, empty clusters keep c_{i-1}'s row), re-assignment (a_i).
    * Exact SQL replay of [[graft.ext.Similarity.kMeans]] at snapScale
    * 1e6: FLOOR(x*1000000 + 0.5)/1000000 is the engine-neutral snap.
    */
  private lazy val kmeansCteSql: String = {
    def argmax(csrc: String): String =
      s"""  SELECT vec_id, emb, cluster FROM (
         |    SELECT e.vec_id, e.emb, c.cid AS cluster,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |             ORDER BY list_dot_product(e.emb, c.cemb) DESC, c.cid ASC) AS rn
         |    FROM e, $csrc c) r
         |  WHERE rn = 1""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
              |), c0 AS (
              |  SELECT CAST(vec_id AS INT) AS cid, emb AS cemb FROM e WHERE vec_id < $KmK
              |), a0 AS (
              |${argmax("c0")}
              |)""".stripMargin
    for (i <- 1 to KmIters) {
      sb ++= s""", m$i AS (
                |  SELECT a.cluster, u.i AS dim,
                |         FLOOR(AVG(a.emb[u.i]) * 1000000 + 0.5) / 1000000 AS m
                |  FROM a${i - 1} a, (SELECT unnest(generate_series(1, ${Similarity.Dim})) AS i) u
                |  GROUP BY 1, 2
                |), ml$i AS (
                |  SELECT cluster, list(m ORDER BY dim) AS ml FROM m$i GROUP BY cluster
                |), c$i AS (
                |  SELECT c.cid,
                |         CASE WHEN ml.ml IS NULL THEN c.cemb
                |              WHEN sqrt(list_dot_product(ml.ml, ml.ml)) > 0 THEN
                |                list_transform(ml.ml, x ->
                |                  FLOOR(x / sqrt(list_dot_product(ml.ml, ml.ml)) * 1000000 + 0.5) / 1000000)
                |              ELSE ml.ml END AS cemb
                |  FROM c${i - 1} c LEFT JOIN ml$i ml ON ml.cluster = c.cid
                |), a$i AS (
                |${argmax(s"c$i")}
                |)""".stripMargin
    }
    sb.toString
  }

  /** Oracle for x55/x56: the md5 pixel generator replayed in SQL — RGB =
    * first three bytes of md5("img_<doc_id>_<y>_<x>"), integer Rec.601
    * luma, channel sums and a 4-bucket histogram. Pure integer
    * arithmetic, so any decoder byte error flips the hash.
    */
  /** Generator-pixel channel extraction at source coords (yExpr, xExpr):
    * byte `off` of md5('img_<doc>_<y>_<x>') — the arithmetic
    * syntheticImages runs, shared by the x55/x56 and x222 oracles. */
  private def genCh(off: Int, yExpr: String, xExpr: String) =
    s"CAST(('0x' || substr(md5('img_' || d.doc_id || '_' || ($yExpr) || '_' || ($xExpr)), $off, 2)) AS BIGINT)"

  /** The integer stats body (Rec.601 luma, 4-bucket histogram) over a
    * pixel CTE — ONE definition for every raster-stats oracle. */
  private def imageStatsSql(pxSelect: String, dimCols: String): String =
    s"""WITH px AS (
       |$pxSelect
       |), lum AS (
       |  SELECT doc_id, r, g, b, (299*r + 587*g + 114*b) // 1000 AS luma FROM px
       |)
       |SELECT doc_id, $dimCols,
       |       CAST(SUM(r) AS BIGINT) AS sum_r,
       |       CAST(SUM(g) AS BIGINT) AS sum_g,
       |       CAST(SUM(b) AS BIGINT) AS sum_b,
       |       CAST(SUM(CASE WHEN luma // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) || ',' ||
       |       CAST(SUM(CASE WHEN luma // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) || ',' ||
       |       CAST(SUM(CASE WHEN luma // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) || ',' ||
       |       CAST(SUM(CASE WHEN luma // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS luma_hist
       |FROM lum GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private lazy val imageStatsOracle: String = imageStatsSql(
    s"""  SELECT d.doc_id, ${genCh(1, "ys.y", "xs.x")} AS r,
       |         ${genCh(3, "ys.y", "xs.x")} AS g, ${genCh(5, "ys.y", "xs.x")} AS b
       |  FROM documents d,
       |       (SELECT unnest(generate_series(0, 7)) AS y) ys,
       |       (SELECT unnest(generate_series(0, 7)) AS x) xs""".stripMargin,
    "8 AS width, 8 AS height, 255 AS maxval")

  /** x222: the resized raster's pixels are the generator pixels at the
    * NN floor-mapped source coords sy = ty*8//3, sx = tx*8//5 — only a
    * correct decode AND a correct index mapping reproduce the stats. */
  private lazy val resizeStatsOracle: String = imageStatsSql(
    s"""  SELECT d.doc_id, ${genCh(1, "ys.ty * 8 // 3", "xs.tx * 8 // 5")} AS r,
       |         ${genCh(3, "ys.ty * 8 // 3", "xs.tx * 8 // 5")} AS g,
       |         ${genCh(5, "ys.ty * 8 // 3", "xs.tx * 8 // 5")} AS b
       |  FROM documents d,
       |       (SELECT unnest(generate_series(0, 2)) AS ty) ys,
       |       (SELECT unnest(generate_series(0, 4)) AS tx) xs""".stripMargin,
    "8 AS src_width, 8 AS src_height, 5 AS width, 3 AS height")

  /** Shared oracle CTE chain for the sparse-banded ANN family (x53/x54):
    * band keys from the MD5-derived plane literals, the hot-bucket cap as
    * a HAVING filter, and the capped candidate self-join — the exact SQL
    * replay of [[graft.ext.Similarity.candidatePairs]] at the sparse
    * preset.
    */
  private lazy val sparseCandSql: String = bandCandSql(
    Similarity.SparseBands, Similarity.SparseBandBits, Similarity.SparseBucketCap)

  /** The verified near-dup edge set over `cand`/`e` — the cosine-verify
    * join + the 0.4 threshold, ONE definition for every graph-family
    * oracle (the whole family must replay the SAME pair set as
    * Similarity.annPairs; a threshold or join-shape tweak missed in one
    * of the former nine hand-kept copies would silently gate one query
    * against a different graph). `weighted = true` also carries the
    * 1e-3 fixed-point edge weight (x91's weighted PageRank). */
  private def dupCteSql(weighted: Boolean = false): String = {
    val sel =
      if (weighted) "vec_a, vec_b, CAST(FLOOR(cosine * 1000.0 + 0.5) AS BIGINT) AS w"
      else "vec_a, vec_b"
    s""", dup AS (
       |  SELECT $sel FROM (
       |    SELECT c.vec_a, c.vec_b, list_dot_product(ea.emb, eb.emb) AS cosine
       |    FROM cand c
       |    JOIN e ea ON ea.vec_id = c.vec_a
       |    JOIN e eb ON eb.vec_id = c.vec_b) p
       |  WHERE cosine >= 0.4
       |)""".stripMargin
  }

  /** Same chain at any banding density; cap <= 0 skips the kept filter
    * (the dense x11 preset). Shared with Frontier's x182 oracle. */
  private[queries] def bandCandSql(bands: Int, bits: Int, cap: Int): String = {
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until bits).map { j =>
        val lit = Similarity.planesSqlLiteral(b * bits + j)
        s"CASE WHEN list_dot_product(emb, $lit) > 0 THEN ${1 << j} ELSE 0 END"
      }.mkString(" + ")
      s"SELECT vec_id, emb, $b AS band_idx, $key AS band_key FROM e"
    }.mkString("\n  UNION ALL ")
    val keptCtes =
      if (cap <= 0)
        s"""cand AS (
           |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM bands a
           |  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id < b.vec_id
           |)""".stripMargin
      else
        s"""kept AS (
           |  SELECT band_idx, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= $cap
           |), cand AS (
           |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM bands a
           |  JOIN kept k ON a.band_idx = k.band_idx AND a.band_key = k.band_key
           |  JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.vec_id < b.vec_id
           |)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |), bands AS (
       |  $bandSelects
       |), $keptCtes""".stripMargin
  }
}
