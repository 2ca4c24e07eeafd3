package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline, all expressed as
  * codegen-friendly built-in column expressions (no UDFs) so they stay
  * inside whole-stage codegen and scale linearly with the corpus — the
  * shapes a 100 TB document cleanse needs: token statistics, quality
  * scoring, language ID, content fingerprinting.
  *
  * Every function is deterministic and has an ANSI-SQL twin used by the
  * DuckDB oracles (see graft.queries.Extensions).
  */
object TextAnalysis {

  /** Whitespace tokenization of a text column. CONVENTION: empty or
    * whitespace-only text tokenizes to [""] (one empty token), exactly
    * like DuckDB's string_split_regex — the two engines share the wart,
    * which is what keeps every token-level oracle bit-comparable. Do
    * NOT "fix" one side alone; a curation pipeline that must exclude
    * empty docs filters upstream (the qualityGates length floor). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** A double snapped to the 1e-9 grid (the x61 convention) — ONE
    * definition; six operators previously re-spelled it locally and a
    * grid tweak to one copy would silently desynchronize the others. */
  private def snap9(x: Column): Column =
    floor(x * lit(1e9) + lit(0.5)) / lit(1e9)

  /** (doc_id, gram) rows — every word n-gram of each document, with the
    * short-document convention (a doc shorter than n tokens contributes
    * its whole token sequence as ONE gram via greatest(size-n+1, 1)) —
    * ONE definition for the gram-grain operators (boilerplate, novelty,
    * duplicate-gram coverage, contamination): a short-doc bound fixed in
    * one re-spell and not the others would silently desynchronize
    * novelty attribution from the dedup policy it predicts. */
  private def gramRows(d: DataFrame, n: Int): DataFrame = d
    .select(col("doc_id"), tokens(col("text")).as("ts"))
    .select(col("doc_id"), col("ts"),
      explode(sequence(lit(1), greatest(size(col("ts")) - (n - 1), lit(1)))).as("i"))
    .select(col("doc_id"), array_join(slice(col("ts"), col("i"), lit(n)), " ").as("gram"))

  /** Common-word list used by the quality score and language ID. */
  val EnStopwords: Seq[String] = Seq("the", "a", "an", "of", "and", "is", "to", "in")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Per-document token statistics: whitespace tokens, a BPE-ish regex
    * token count (letter runs / digit runs / single punctuation — the
    * pre-tokenizer shape of GPT-style BPE), and average token length.
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val ts = tokens(col("text"))
    docs.select(
      col("doc_id"),
      size(ts).as("n_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("n_bpe_tokens"),
      length(col("text")).as("n_chars"),
      (length(col("text")).cast("double") / size(ts)).as("avg_token_len"))
  }

  /** Heuristic quality score in [0,1]: stopword density (real prose has
    * some), low special-character noise, and a length prior. The weights
    * are arbitrary but fixed; what matters at scale is that the whole
    * score is one projection over the scan.
    */
  def qualityScore(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      stopRatioExpr.as("stopword_ratio"),
      specialRatioExpr.as("special_ratio"),
      qualityScoreExpr.as("quality_score"))

  // The two ratio expressions are shared with qualityScoreExpr — ONE
  // definition each, so the reported ratio columns can never describe a
  // different formula than the score beside them.
  private def stopRatioExpr: Column =
    countIn(tokens(col("text")), EnStopwords).cast("double") /
      size(tokens(col("text")))
  private def specialRatioExpr: Column =
    regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("double") /
      greatest(length(col("text")), lit(1))

  /** The [[qualityScore]] composite as ONE reusable Column over a frame
    * with a `text` column — so pipeline stages (Pipeline.curate) can
    * score inline without a self-join back to the metrics frame. Same
    * expression tree as the x02 gate, so threshold comparisons on it are
    * cross-engine deterministic.
    */
  def qualityScoreExpr: Column = {
    val lengthPrior = least(lit(1.0),
      size(tokens(col("text"))).cast("double") / lit(100.0))
    lit(0.4) * stopRatioExpr + lit(0.3) * (lit(1.0) - specialRatioExpr) +
      lit(0.3) * lengthPrior
  }

  /** Rule-based quality gate in the style of Gopher's repetition-free
    * document filters (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", §A1.1): each
    * rule is an independent boolean with its evidence column, plus the
    * conjunction. Unlike [[qualityScore]]'s soft composite, every rule
    * here is INTEGER arithmetic only — counts cross-multiplied against
    * bounds, no division — so the distributed gate and a serial oracle
    * agree bit-for-bit, and downstream curation can cite exactly which
    * rule dropped a document. One projection over the scan; all rules
    * share the single tokenization.
    */
  def qualityGates(docs: DataFrame,
      minWords: Int = 20, maxWords: Int = 1000,
      minMeanLenX1: Int = 3, maxMeanLenX1: Int = 10,
      maxSymbolPerMille: Int = 100, minStopwords: Int = 2): DataFrame = {
    val ts = tokens(col("text"))
    val nWords = size(ts).cast("long")
    // Sum of token lengths == non-whitespace chars: one global regexp
    // strip instead of a per-token fold.
    val sumLen = length(regexp_replace(col("text"), "\\s+", "")).cast("long")
    val nChars = length(col("text")).cast("long")
    val symChars = length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("long")
    val stopHits = countIn(ts, EnStopwords).cast("long")
    val wordsOk = nWords.between(minWords.toLong, maxWords.toLong)
    val meanLenOk = (sumLen >= nWords * minMeanLenX1) && (sumLen <= nWords * maxMeanLenX1)
    val symbolOk = symChars * 1000L <= nChars * maxSymbolPerMille.toLong
    val stopOk = stopHits >= minStopwords.toLong
    docs.select(
      col("doc_id"),
      nWords.as("n_words"),
      sumLen.as("sum_word_len"),
      symChars.as("n_symbol_chars"),
      stopHits.as("n_stopwords"),
      wordsOk.as("words_ok"),
      meanLenOk.as("mean_len_ok"),
      symbolOk.as("symbol_ok"),
      stopOk.as("stopword_ok"),
      (wordsOk && meanLenOk && symbolOk && stopOk).as("passes"))
  }

  /** Marker-token language ID (n-gram-heuristic family). Scores each
    * language by counting its marker tokens; deterministic arg-max with a
    * fixed preference order on ties. A real deployment would use charset
    * ranges + larger marker sets; the operator shape (k counts + a CASE
    * chain, single pass) is what scales.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of"),
    "fr" -> Seq("le", "la", "et", "un", "est"),
    "es" -> Seq("el", "los", "una", "y", "es"),
    "de" -> Seq("der", "die", "und", "ist", "ein"),
    "zh" -> Seq.empty) // CJK is detected by charset, not tokens

  /** Shared lang-ID scoring kernel ([[languageId]], [[langIdCalibration]]):
    * per-language marker scores, the deterministic arg-max prediction
    * (first language in LangMarkers order at the row maximum), and the
    * label match. ONE definition — a marker tweak applied to the
    * classifier and not its calibration audit would silently desync them. */
  private def langScored(docs: DataFrame): DataFrame = {
    val ts = tokens(col("text"))
    val scores = LangMarkers.map { case (lang, words) =>
      lang -> (if (lang == "zh") regexp_count(col("text"), lit("[\\u4e00-\\u9fff]"))
               else countIn(ts, words))
    }
    val withScores = docs.select(
      (col("doc_id") +: col("lang").as("labeled_lang") +:
        scores.map { case (l, c) => c.as(s"score_$l") }): _*)
    // Deterministic arg-max: first language (in LangMarkers order) whose
    // score equals the row maximum.
    val maxScore = greatest(scores.map { case (l, _) => col(s"score_$l") }: _*)
    val predicted = scores.foldRight(lit("und"): Column) { case ((l, _), rest) =>
      when(col(s"score_$l") === maxScore && maxScore > 0, l).otherwise(rest)
    }
    withScores
      .withColumn("predicted_lang", predicted)
      .withColumn("is_match", col("predicted_lang") === col("labeled_lang"))
  }

  def languageId(docs: DataFrame): DataFrame = langScored(docs)

  /** Lang-ID calibration / reliability audit (the ECE of the x03
    * classifier against the labeled column): per confidence decile, how
    * often is the classifier RIGHT vs how sure it claimed to be? The
    * eval-family companion to x156's confusion matrix — a confusion
    * matrix says WHERE the classifier errs, a reliability diagram says
    * whether its confidence can be believed (the property that decides
    * if "keep docs the classifier is >90% sure about" is a sound
    * curation rule).
    *
    * Confidence is the arg-max share of the marker mass, kept on a 1e6
    * FIXED-POINT grid (conf_fp = floor(1e6·max/Σ) — exact BIGINTs both
    * engines, so bin assignment and the per-bin confidence sums are
    * order-free integers; the x221/x225 grid convention). Rows with no
    * marker hits ('und', Σ = 0) carry no confidence and are excluded —
    * reported via the n_scored/n_total columns so the exclusion is
    * visible, not silent. Expected calibration error folds per-bin
    * |accuracy − avg confidence| weighted by bin mass, each bin's term
    * snapped to a 1e-12 grid before the ≤10-row sum (order-free).
    *
    * Scale shape: one projection + one 10-group aggregate; the bin
    * table is bounded by construction. ECE rides on every row.
    */
  def langIdCalibration(docs: DataFrame, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"unreasonable bin count $bins")
    val scoreSum = LangMarkers.map { case (l, _) => col(s"score_$l") }
      .reduce(_ + _).cast("long")
    val maxScore = greatest(
      LangMarkers.map { case (l, _) => col(s"score_$l") }: _*).cast("long")
    val scored = langScored(docs)
      .withColumn("ssum", scoreSum)
      .withColumn("smax", maxScore)
    val total = scored.agg(count(lit(1)).as("n_total"))
    val conf = scored.filter(col("ssum") > 0)
      .select(col("is_match"),
        floor(lit(1000000L) * col("smax") / col("ssum")).cast("long")
          .as("conf_fp"))
      .withColumn("bin",
        least(lit(bins - 1), floor(col("conf_fp") * lit(bins.toLong)
          / lit(1000000L)).cast("int")))
    val perBin = conf.groupBy("bin").agg(
      count(lit(1)).as("n"),
      sum(when(col("is_match"), 1L).otherwise(0L)).as("n_correct"),
      sum(col("conf_fp")).as("sum_conf_fp"))
    // n_scored == sum(n) over the <= bins-row table — deriving it there
    // saves a second full tokenize+score corpus pass.
    val nScored = perBin.agg(sum(col("n")).as("n_scored"))
    // Per-bin ECE term on a 1e-12 grid: the |acc - conf| tree is one
    // shared IEEE expression from exact integers; snapping before the
    // bounded sum makes the fold order-free across engines.
    val acc = col("n_correct").cast("double") / col("n").cast("double")
    val avgConf = col("sum_conf_fp").cast("double") /
      (col("n").cast("double") * lit(1000000.0))
    val terms = perBin.crossJoin(broadcast(nScored))
      .withColumn("ece_term_fp",
        floor(lit(1.0e12) * abs(acc - avgConf) * col("n").cast("double")
          / col("n_scored").cast("double") + lit(0.5)).cast("long"))
    val ece = terms.agg(
      (sum(col("ece_term_fp")).cast("double") / lit(1.0e12)).as("e"))
    terms.crossJoin(broadcast(total)).crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("n_correct"), col("sum_conf_fp"),
        round(acc, 6).as("accuracy"),
        round(avgConf, 6).as("avg_conf"),
        round(abs(acc - avgConf), 6).as("gap"),
        col("n_scored"), col("n_total"),
        round(col("e"), 6).as("ece"))
      .orderBy("bin")
  }

  /** Token burstiness / adaptation (Church & Gale: content words are
    * BURSTY — once a document uses one, it reuses it; function words
    * and template boilerplate spread thin-and-everywhere): per heavy
    * token, collection frequency cf, document frequency df, repeat-doc
    * frequency df2 (documents using it at least twice), burstiness =
    * cf/df (mean in-document count) and adaptation = df2/df (Church's
    * P(second occurrence | first) estimate). The curation signal: a
    * high-cf token with LOW adaptation that is not a stopword is
    * template/boilerplate mass; high-adaptation tokens are topical
    * content worth keeping.
    *
    * All counts are exact BIGINTs from one (doc, token) aggregate; each
    * ratio is one double division, rounded to 6 — no order-sensitive
    * folds anywhere.
    *
    * Scale shape: one groupBy(doc, tok) + one groupBy(tok), both
    * map-side combinable; output bounded by the heavy-set filter.
    */
  def tokenBurstiness(docs: DataFrame, minCount: Long = 50): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    perDoc.groupBy("tok").agg(
        sum(col("c")).as("cf"),
        count(lit(1)).as("df"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("df2"))
      .filter(col("cf") >= minCount)
      .select(col("tok"), col("cf"), col("df"), col("df2"),
        round(col("cf").cast("double") / col("df").cast("double"), 6)
          .as("burstiness"),
        round(col("df2").cast("double") / col("df").cast("double"), 6)
          .as("adaptation"))
      .orderBy(desc("cf"), asc("tok"))
  }

  /** Text normalization — the first transform of every training-data
    * cleanse: lowercase, strip non-alphanumerics (whitespace kept),
    * collapse whitespace runs, trim. One codegen'd projection; emits the
    * normalized text plus before/after size stats so the downstream
    * filter ("dropped >x% of chars → suspicious") is a column predicate.
    */
  def normalize(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9\\s]", ""), "\\s+", " "))
    docs.select(
      col("doc_id"),
      norm.as("norm_text"),
      length(col("text")).as("raw_chars"),
      length(norm).as("norm_chars"),
      (lit(1.0) - length(norm).cast("double") / greatest(length(col("text")), lit(1)))
        .as("dropped_frac"))
  }

  /** Per-document top-k terms by tf·idf. The idf here is the raw ratio
    * N/df (no log dampening): every operation (int→double cast, one
    * multiply, one divide) is exactly rounded IEEE, so scores are
    * bit-deterministic cross-engine — a log-based idf is monotone per
    * term but engine-library-dependent in the last ulp. A deployment
    * wanting dampening swaps in log1p; the plan (explode → tf groupBy →
    * df groupBy → key join → per-doc top-k window) is unchanged.
    */
  def tfidfTopK(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("token").asc)
    tf.join(df, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "token", "tf", "df", "score")
  }

  /** Repetition statistics — the Gopher-family quality filters that catch
    * degenerate/templated text: fraction of duplicated word trigrams and
    * the share of the single most frequent token. Both are ratios of
    * exact counts (one IEEE division), so they are bit-deterministic
    * cross-engine. Two explode+aggregate passes joined at doc grain.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("ts"))
    val tri = base
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(1), greatest(size(col("ts")) - 2, lit(1)))).as("i"))
      .select(col("doc_id"), array_join(slice(col("ts"), col("i"), lit(3)), " ").as("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), countDistinct(col("g")).as("n_distinct_trigrams"))
      .withColumn("dup_trigram_frac",
        lit(1.0) - col("n_distinct_trigrams").cast("double") / col("n_trigrams"))
    val tok = base.select(col("doc_id"), explode(col("ts")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("top_token_count"), sum(col("c")).as("n_tokens"))
      .withColumn("top_token_frac",
        col("top_token_count").cast("double") / col("n_tokens"))
    tri.join(tok, "doc_id")
      .select("doc_id", "n_trigrams", "n_distinct_trigrams", "dup_trigram_frac",
        "n_tokens", "top_token_count", "top_token_frac")
  }

  /** Compression-ratio quality signal (deflate bytes / raw bytes): highly
    * repetitive or templated text compresses far below prose — the cheap
    * whole-document counterpart of [[repetitionStats]]. Runs as a
    * mapPartitions batch stage (one Deflater per partition, reused across
    * rows — not per-row allocation). Test-gated: no SQL engine exposes a
    * deflate twin, so there is no DuckDB oracle; determinism within a JVM
    * is pinned by fixed level/strategy.
    */
  def compressionRatio(spark: org.apache.spark.sql.SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        // Deflater holds native zlib state — release it at task end
        // (finalization is too late on long-lived executors), including
        // tasks that abandon the iterator early (limit/take).
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          // 3VL parity with the expression operators: a NULL text is an
          // empty document here, not a task-killing NPE.
          val raw = (if (text == null) ""
            else text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished()) compressed += deflater.deflate(buf)
          (id, raw.length.toLong, compressed,
            if (raw.length == 0) 1.0 else compressed.toDouble / raw.length)
        }
      }
      .toDF("doc_id", "raw_bytes", "deflate_bytes", "compression_ratio")
  }

  /** Cross-document boilerplate detector: word `n`-gram spans appearing in
    * at least `minDf` distinct documents, ranked by document frequency —
    * the signal behind C4/RefinedWeb-style "drop spans repeated across the
    * corpus" cleaning (license headers, navigation chrome, templates).
    * Distinct grams per doc (explode) → one count aggregate → top-k, so
    * the cost is the shingle explode; at 100 TB the gram would be a
    * 64-bit hash instead of the text (identical plan, 10× less shuffle).
    */
  def boilerplateNgrams(docs: DataFrame, n: Int = 5, minDf: Long = 3,
      k: Int = 20): DataFrame =
    gramRows(docs, n)
      .distinct()
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("gram").asc)
      .limit(k)

  /** Corpus-adaptive stopword scrub: tokens whose document frequency
    * exceeds `dfFrac` of the corpus are dropped from every document,
    * preserving the surviving tokens' order — vocabulary pruning before
    * tokenizer training / index building. Two passes over the token
    * explode: a distinct-df aggregate discovers the stop list (broadcast
    * — it is vocabulary-sized), then a broadcast anti-join + per-doc
    * ordered reassembly (sort by original position inside collect_list).
    * Documents scrubbed to nothing stay present with empty text — the
    * left join keeps corpus cardinality stable for downstream joins.
    */
  def stopwordScrub(docs: DataFrame, dfFrac: Double = 0.4): DataFrame = {
    val tok = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val df = tok.select(col("doc_id"), col("tok")).distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val stop = df.crossJoin(broadcast(nDocs))
      .filter(col("df") > lit(dfFrac) * col("n_docs"))
      .select("tok")
    val kept = tok.join(broadcast(stop), Seq("tok"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            _.getField("tok")), " ").as("clean_text"))
    docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Conservative regex shared by Java (Spark) and RE2-ish (DuckDB)
    * dialects: char classes, bounded quantifiers, no lookaround. */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"

  /** 7-plus digit runs — the phone/account-number-shaped spans a corpus
    * scrub masks. */
  val LongNumberPattern = "[0-9]{7,}"

  /** PII-style scrub pass: count and mask email-shaped and long-number
    * spans (emails first, so a digit-bearing local part is consumed as
    * an email, pinning the order cross-engine). Emits match counts and
    * the md5 of the redacted text — the gate proves the REPLACEMENT
    * byte-exact, not just the counts. Pure codegen'd projections over
    * the scan, no shuffle; the patterns avoid every Java/RE2 dialect
    * divergence (no lookaround, no backrefs, no lazy quantifiers).
    */
  def redact(docs: DataFrame): DataFrame = {
    // Long-number counting runs on the email-masked text so every count
    // corresponds to a mask actually applied — a digit run inside an
    // email local-part is consumed by <EMAIL>, not double-reported.
    val emailMasked = regexp_replace(col("text"), EmailPattern, "<EMAIL>")
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailPattern)).cast("long").as("n_emails"),
      regexp_count(emailMasked, lit(LongNumberPattern)).cast("long").as("n_long_numbers"),
      md5(regexp_replace(emailMasked, LongNumberPattern, "<NUM>").cast("binary"))
        .as("redacted_md5"))
  }

  /** Benchmark decontamination — the train/eval overlap check every
    * serious training-data pipeline runs before a corpus ships: for each
    * training document, how many of its distinct word `n`-grams occur
    * ANYWHERE in the evaluation corpus, plus the contamination flag. A
    * flagged document either contains eval material verbatim or shares
    * enough boilerplate to be suspect; the flag drives the drop/quarantine
    * decision.
    *
    * Spark shape: both corpora explode to distinct (doc, gram) rows; the
    * probe is ONE equi-join on the gram string (inverted-index shape,
    * never doc×doc) aggregated back per training document. Eval grams
    * dedup to one row per gram, so join fan-out per training gram is at
    * most 1 — candidate volume is linear in the training gram count
    * regardless of eval-corpus size. Documents shorter than `n` tokens
    * contribute their whole token sequence as one gram (the x04
    * fingerprint convention).
    */
  def contamination(train: DataFrame, evalDocs: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 2, "contamination n-grams need n >= 2")
    def gramsRaw(d: DataFrame) = gramRows(d, n)
    // Eval side distincts on the gram ALONE — a per-(doc, gram) distinct
    // first would shuffle the eval corpus twice for the same result.
    val evalGrams = gramsRaw(evalDocs).select("gram").distinct()
      .withColumn("hit", lit(1))
    gramsRaw(train).distinct()
      .join(evalGrams, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        count(col("hit")).as("n_eval_grams"),
        (count(col("hit")) > 0).as("contaminated"))
  }

  /** Per-document n-gram NOVELTY — the attribution twin of
    * [[duplicateGramCoverage]]: every distinct word n-gram is owned by
    * the minimum doc_id containing it, and a document's novelty is the
    * fraction of its grams it owns. Under "first occurrence survives"
    * passage dedup (x101's policy), novelty is exactly the fraction of
    * the document that dedup would keep — a pre-dedup sizing signal
    * computed without running the dedup.
    *
    * Shape: one distinct (doc, gram) explode, one min-aggregate per
    * gram, one inverted-index equi-join back — the x72 plan with min
    * in place of count; never doc×doc.
    */
  def gramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 2, "gram novelty needs n >= 2")
    val grams = gramRows(docs, n)
      .distinct()
    val owner = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("owner"))
    grams.join(owner, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** Duplicate n-gram coverage — the per-document metric behind exact-
    * substring deduplication (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022): for each document, how
    * many of its distinct word `n`-grams occur in at least `minDf`
    * documents corpus-wide, and the covered fraction. A high fraction
    * means the document is assembled from text that exists elsewhere —
    * the drop/trim signal that catches cross-document boilerplate exact
    * dedup misses.
    *
    * Shape: one distinct (doc, gram) explode, one gram-frequency
    * aggregate, one inverted-index equi-join back — never doc×doc; the
    * df side carries one row per distinct gram. At 100 TB the gram
    * becomes a 64-bit hash (10× less shuffle, same plan) and the df
    * table is exactly the suffix-array postings analog a cluster can
    * actually build.
    */
  def duplicateGramCoverage(docs: DataFrame, n: Int = 8, minDf: Long = 2): DataFrame = {
    require(n >= 2, "duplicate-gram coverage needs n >= 2")
    val grams = gramRows(docs, n)
      .distinct()
    val df = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    grams.join(df, Seq("gram"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
  }

  /** BM25 relevance scoring for a fixed keyword query — the retrieval
    * primitive of a data-curation stack (selecting training documents
    * relevant to a target domain, "importance resampling by query"). One
    * corpus pass computes every per-document statistic as projections
    * (tf per term via array filters — no explode); the corpus-level
    * statistics (N, Σdl, df per term) are ONE global aggregate whose
    * single row broadcasts back. No shuffle of the corpus itself.
    *
    * Determinism contract: tf, dl, df, N are exact integers; avgdl and
    * every tf-normalization step are exactly-rounded IEEE ops replicated
    * textually in the oracle; ln() is NOT correctly-rounded across
    * engine math libraries (measured: 2/1197 inputs differ between
    * java.lang.Math and DuckDB's libm by 1 ulp), so each idf snaps to a
    * 1e-9 grid — the x61 rate-snapping trick — making the ulp
    * discrepancy unobservable. Per-term scores combine in fixed
    * left-to-right term order, never via an order-free SUM.
    */
  def bm25(docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    require(queryTerms == queryTerms.distinct,
      "duplicate query terms would create ambiguous tf_ columns")
    require(queryTerms.forall(_.matches("[A-Za-z0-9_-]+")),
      "query terms name the per-term tf_/df_ columns; only identifier-" +
        "safe terms ([A-Za-z0-9_-]+) are supported")
    val ts = tokens(col("text"))
    val base = docs.select(
      (col("doc_id") +: size(ts).cast("long").as("dl") +:
        queryTerms.map(t =>
          size(filter(ts, tok => tok === lit(t))).cast("long").as(s"tf_$t"))): _*)
    val aggs = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
      queryTerms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val norm = lit(1.0 - b) + lit(b) * (col("dl").cast("double") / avgdl)
    val termScore = queryTerms.map { t =>
      val idf = snap9(log(
        (col("n_docs").cast("double") - col(s"df_$t").cast("double") + lit(0.5))
          / (col(s"df_$t").cast("double") + lit(0.5)) + lit(1.0)))
      idf * ((col(s"tf_$t").cast("double") * lit(k1 + 1.0))
        / (col(s"tf_$t").cast("double") + lit(k1) * norm))
    }
    base.crossJoin(broadcast(stats))
      .select((col("doc_id") +: col("dl") +:
        queryTerms.map(t => col(s"tf_$t")) :+
        termScore.reduceLeft(_ + _).as("bm25")): _*)
      .filter(col("bm25") > 0)
  }

  /** Bigram language-model scoring — the CCNet-style quality signal
    * (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", LREC 2020): train a Laplace-smoothed
    * bigram LM on the corpus ITSELF, score every document by its mean
    * token log-likelihood. Degenerate/boilerplate text scores high
    * (predictable), rare-garbage text scores low — the standard
    * perplexity-bucket signal for corpus filtering.
    *
    * ln P(w2 | w1) = ln((C(w1,w2) + 1) / (C(w1·) + V)) with V = distinct
    * token count. Spark shape: one bigram explode (linear), two count
    * aggregates (bigram / bigram-first), one broadcast scalar for V,
    * one equi-join of doc bigrams onto the model — no corpus×corpus
    * anything; at 100 TB the model join is a plain hash join on the
    * bigram key.
    *
    * Cross-engine determinism: each bigram's ln() snaps to the 1e-9 grid
    * AS A FIXED-POINT BIGINT, and per-doc aggregation sums those integers
    * — exact and order-free, where a double sum would drift by summation
    * order (the x61/x73 integer-sum trick). The final mean and the
    * snapped perplexity are computed by the identical IEEE expression
    * tree in both engines. Documents with fewer than two tokens carry no
    * bigram evidence: they surface with n_bigrams = 0 and NULL scores
    * (3VL, not a silent drop).
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("ts"))
    val big = toks.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bigramC = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val firstC = big.groupBy("w1").agg(count(lit(1)).as("cf"))
    val vocab = toks.select(explode(col("ts")).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    // Per-bigram snapped log-prob in 1e-9 fixed point; per-doc sums are
    // exact integer arithmetic.
    val scored = big
      .join(bigramC, Seq("w1", "w2"))
      .join(firstC, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        floor(log((col("cb").cast("double") + lit(1.0))
            / (col("cf").cast("double") + col("v").cast("double"))) * lit(1e9)
          + lit(0.5)).cast("long").as("lp_fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_fp")).as("sum_lp_fp"))
    val avg = col("sum_lp_fp").cast("double") / lit(1e9) / col("n_bigrams").cast("double")
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        avg.as("avg_logp"),
        snap9(exp(-avg)).as("ppl"))
  }

  /** PMI collocation mining (Church & Hanks 1990): pointwise mutual
    * information ln(c(xy)·N / (c(x)·c(y))) over corpus bigrams — the
    * classic collocation signal (multi-word expressions, tokenizer-vocab
    * merge candidates, boilerplate phrases). All counts are exact
    * integers from two aggregates over one bigram explode; the single
    * ln() per surviving pair snaps to the 1e-9 grid (the bm25/x78
    * convention). `minCount` drops the noise tail — PMI is notoriously
    * unstable on hapax pairs — and only positive-PMI pairs (observed
    * more than chance) surface.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("ts"))
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val total = toks.select(size(col("ts")).as("n"))
      .agg(sum(col("n")).as("nn"))
    val big = toks.filter(size(col("ts")) >= 2)
      .select(explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)
    big
      .join(uni.select(col("w").as("w1"), col("cu").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("cb"),
        snap9(log(col("cb").cast("double") * col("nn").cast("double")
          / (col("c1").cast("double") * col("c2").cast("double")))).as("pmi"))
      .filter(col("pmi") > 0)
  }

  /** Per-source distribution drift: the KL divergence of each source's
    * unigram distribution from the whole-corpus distribution — the
    * mixing diagnostic a multi-source training run watches ("how far is
    * this source from the blend it feeds"). KL(p‖q) = Σ_t p(t)·ln(p(t)/q(t))
    * over the source's tokens; q is the corpus distribution, and since
    * every source token is a corpus token, q(t) > 0 wherever p(t) > 0 —
    * no smoothing needed.
    *
    * Cross-engine determinism for a SUM of float terms needs more than
    * the snapped-ln trick (x74/x94): addition order differs between a
    * distributed and a serial engine, so each term — p·snap9(ln(p/q)),
    * both factors bit-identical (exact-integer divisions and the 1e-9
    * snapped log) — lands on a 1e-12 fixed-point BIGINT grid and the SUM
    * runs in integers, order-free. `kl_fp` is that exact integer;
    * `kl_divergence` is the one final division.
    *
    * Scale shape: two token aggregates (per-source-token and per-token)
    * joined on the token, per-source totals broadcast — no window, no
    * doc×doc anything.
    */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), tokens(col("text")).as("ts"))
    val st = toks.select(col("source"), explode(col("ts")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cst"))
    val srcTot = st.groupBy("source").agg(sum(col("cst")).as("ns"))
    val corpus = st.groupBy("tok").agg(sum(col("cst")).as("ct"))
    val corpusTot = corpus.agg(sum(col("ct")).as("nn"))
    val terms = st
      .join(corpus, Seq("tok"))
      .join(srcTot, Seq("source"))
      .crossJoin(broadcast(corpusTot))
      .select(col("source"), col("ns"),
        floor((col("cst").cast("double") / col("ns").cast("double"))
            * snap9(log(col("cst").cast("double") * col("nn").cast("double")
              / (col("ns").cast("double") * col("ct").cast("double"))))
            * lit(1e12) + lit(0.5)).cast("long").as("term_fp"))
    terms.groupBy("source")
      .agg(max(col("ns")).as("n_tokens"), sum(col("term_fp")).as("kl_fp"))
      .select(col("source"), col("n_tokens"), col("kl_fp"),
        (col("kl_fp").cast("double") / lit(1e12)).as("kl_divergence"))
  }

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions — [[sourceDivergence]]'s symmetric, bounded pair
    * form, and x214's distributional companion: KMV measures how much
    * VOCABULARY two sources share; JS measures whether they USE the
    * shared vocabulary the same way (two sources can overlap 90% in
    * types yet weight them so differently that mixing them is still
    * worth it). Symmetric, no absolute-continuity requirement, bounded
    * by ln 2 — the redundancy matrix a source-mixing planner reads.
    *
    * The decomposition that makes it a JOIN-SHAPED computation: with
    * M = (P+Q)/2, one-sided words (in P only) contribute exactly
    * p·ln 2, so
    *   JS(P,Q) = ln 2 + ½·Σ_{w ∈ P∩Q} [p·ln(p/(p+q)) + q·ln(q/(p+q))]
    * — only the INTERSECTION vocabulary carries a nonzero correction,
    * so the pair computation is an inner join of the two sources' token
    * tables, never a union-of-supports outer join. A pair with zero
    * shared vocabulary is exactly ln 2 (disjoint distributions), filled
    * from the pair grid.
    *
    * Determinism: p/(p+q) = cₐ·n_b/(cₐ·n_b + c_b·nₐ) is computed
    * all-double (no BIGINT product to overflow at corpus scale); each
    * ln snaps to the 1e-9 grid and the whole per-word correction to a
    * 1e-12 fixed-point BIGINT ([[sourceDivergence]]'s discipline), so
    * per-pair sums are order-free integers. ln 2 enters as the explicit
    * double literal 0.6931471805599453 — identical by construction, not
    * by libm agreement. The grid makes values exact-on-the-grid rather
    * than exactly-true-JS: identical distributions (true JS = 0) can
    * land a few 1e-10 BELOW zero, since each snapped ln carries up to
    * 5e-10 of grid error (Batch13Spec pins the slack bound).
    *
    * Scale shape: one (source, token) aggregate, a token-keyed
    * self-join whose fan-out per token is bounded by the source count
    * (sources are few by construction), one per-pair aggregate.
    */
  def jsDivergenceMatrix(docs: DataFrame): DataFrame = {
    val st = docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val tot = st.groupBy("source").agg(sum(col("c")).as("n"))
    val withTot = st.join(tot, Seq("source"))
    val av = withTot.select(col("source").as("sa"), col("tok"),
      col("c").as("ca"), col("n").as("na"))
    val bv = withTot.select(col("source").as("sb"), col("tok"),
      col("c").as("cb"), col("n").as("nb"))
    val denom = col("ca").cast("double") * col("nb").cast("double") +
      col("cb").cast("double") * col("na").cast("double")
    val terms = av.join(bv, Seq("tok")).filter(col("sa") < col("sb"))
      .select(col("sa"), col("sb"),
        floor((
          (col("ca").cast("double") / col("na").cast("double")) *
            snap9(log(col("ca").cast("double") * col("nb").cast("double") / denom)) +
          (col("cb").cast("double") / col("nb").cast("double")) *
            snap9(log(col("cb").cast("double") * col("na").cast("double") / denom))
          ) * lit(1e12) + lit(0.5)).cast("long").as("term_fp"))
    val agg = terms.groupBy("sa", "sb")
      .agg(count(lit(1)).as("n_shared"), sum(col("term_fp")).as("js_fp"))
    val pairs = tot.select(col("source").as("sa"))
      .crossJoin(broadcast(tot.select(col("source").as("sb"))))
      .filter(col("sa") < col("sb"))
    pairs.join(agg, Seq("sa", "sb"), "left")
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared_vocab"),
        coalesce(col("js_fp"), lit(0L)).as("js_fp"))
      .withColumn("js_divergence",
        lit(0.6931471805599453) +
          lit(0.5) * col("js_fp").cast("double") / lit(1e12))
  }

  /** Rank-biased overlap of each source's head vocabulary against the
    * corpus ranking (Webber, Moffat & Zobel 2010) — the top-weighted
    * list-agreement measure: [[jsDivergenceMatrix]] compares whole
    * distributions; RBO asks the narrower operational question "do this
    * source's MOST FREQUENT tokens look like the corpus head?", which is
    * what vocabulary sizing and head-truncation decisions read. At each
    * depth dd, the overlap proportion |topₐ(dd) ∩ top_c(dd)|/dd is
    * weighted (1−p)·p^(dd−1); truncated at `depth` with p = ½, so EVERY
    * weight is an exact power of two — no libm pow disagreement to
    * absorb, identical by construction.
    *
    * Shape of the sum that makes it join-shaped: a token with source
    * rank rₐ and corpus rank r_c enters every depth dd ≥ max(rₐ, r_c),
    * so RBO = Σ_matched Σ_{dd=max..depth} (½)^dd/dd — a join of the two
    * ranked heads (≤ depth rows each) and one small explode. Each term
    * (½)^dd/dd snaps to the 1e-12 fixed-point grid so the per-source
    * sum is an order-free integer. `rbo_norm` divides by the truncated
    * maximum 1 − (½)^depth (exact), so identical heads score exactly 1.
    *
    * Scale shape: one (source, token) count aggregate; the per-source
    * ranking window runs partitioned over the Heaps-bounded count
    * table. The CORPUS head deliberately does NOT use a global
    * row_number window — a 100 TB web corpus's vocabulary is itself
    * billions of rows and an unpartitioned window over it is a
    * single-task wall (round-13 verdict residual #3). Instead
    * `orderBy(cc.desc, tok).limit(depth)` plans TakeOrderedAndProject
    * (per-partition top-`depth`, merged at the driver), the ≤ depth
    * head rows are a bounded model pull whose ranks are assigned
    * locally, and the ranked head is broadcast back — the only window
    * in the plan is the per-source PARTITIONED one (PlanSpec-pinned).
    * The join and explode touch ≤ m·depth rows.
    */
  def rboHeadVocab(docs: DataFrame, depth: Int = 20): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    val st = docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val corpus = st.groupBy("tok").agg(sum(col("c")).as("cc"))
    val ra = st.withColumn("ra", row_number().over(
        Window.partitionBy("source").orderBy(col("c").desc, col("tok"))))
      .filter(col("ra") <= depth).select("source", "tok", "ra")
    // TakeOrderedAndProject, not a global window (see scaladoc): ties
    // broken by tok ascending, so the head set and its ranks are the
    // exact rows the window formulation (and the DuckDB oracle) ranks.
    val headRows = corpus.orderBy(col("cc").desc, col("tok")).limit(depth)
      .select("tok").collect()
    val sess = docs.sparkSession
    import sess.implicits._
    val rb = broadcast(headRows.zipWithIndex
      .map { case (r, i) => (r.getString(0), i + 1) }.toSeq.toDF("tok", "rb"))
    val matched = ra.join(rb, Seq("tok"))
      .select(col("source"), greatest(col("ra"), col("rb")).as("m"))
    val terms = matched
      .select(col("source"), explode(sequence(col("m"), lit(depth))).as("dd"))
      .select(col("source"),
        floor(pow(lit(0.5), col("dd")) / col("dd").cast("double")
          * lit(1e12) + lit(0.5)).cast("long").as("term_fp"))
    val agg = terms.groupBy("source")
      .agg(sum(col("term_fp")).as("rbo_fp"))
    val maxRbo = 1.0 - math.pow(0.5, depth.toDouble) // exact powers of two
    val srcs = st.select("source").distinct()
    srcs.join(agg, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("rbo_fp"), lit(0L)).as("rbo_fp"))
      .withColumn("rbo", round(col("rbo_fp").cast("double") / lit(1e12), 6))
      .withColumn("rbo_norm",
        round(col("rbo_fp").cast("double") / lit(1e12) / lit(maxRbo), 6))
  }

  /** Mutual information between the source label and a cheap document
    * feature (length bucket) — the metadata-leakage audit: high MI means
    * the feature alone predicts provenance, so a "source-blind" model or
    * a dedup/split keyed on that feature silently stratifies by source.
    * Same fixed-point discipline as [[sourceDivergence]]: each term
    * p(x,y)·ln(p(x,y)/(p(x)p(y))) snaps its ln to the 1e-9 grid and the
    * whole term to integer 1e-12 units, so the per-source sums are exact
    * integers (order-free) and cross-engine identical.
    *
    * Output is the per-source PARTIAL MI (rows sum to the corpus MI),
    * with the source's document count for context. Three grouped counts
    * plus one broadcast scalar — no shuffle carries more than the
    * (source × bucket) contingency table.
    */
  def sourceFeatureMi(docs: DataFrame, bucketChars: Int = 100): DataFrame = {
    require(bucketChars > 0, "bucketChars must be positive")
    val b = docs.select(col("source"),
      expr(s"length(text) DIV $bucketChars").cast("long").as("len_bucket"))
    val cxy = b.groupBy("source", "len_bucket").agg(count(lit(1)).as("cxy"))
    val cx = cxy.groupBy("source").agg(sum(col("cxy")).as("cx"))
    val cy = cxy.groupBy("len_bucket").agg(sum(col("cxy")).as("cy"))
    val n = cxy.agg(sum(col("cxy")).as("n"))
    cxy
      .join(cx, Seq("source"))
      .join(cy, Seq("len_bucket"))
      .crossJoin(broadcast(n))
      .select(col("source"), col("cx"),
        floor((col("cxy").cast("double") / col("n").cast("double"))
            * snap9(log(col("cxy").cast("double") * col("n").cast("double")
              / (col("cx").cast("double") * col("cy").cast("double"))))
            * lit(1e12) + lit(0.5)).cast("long").as("term_fp"))
      .groupBy("source")
      .agg(max(col("cx")).as("n_docs"), sum(col("term_fp")).as("mi_fp"))
      .select(col("source"), col("n_docs"), col("mi_fp"),
        (col("mi_fp").cast("double") / lit(1e12)).as("mi_part"))
  }

  /** Vocabulary-truncation coverage curve: for each candidate vocabulary
    * cap N, the fraction of the corpus' TOKEN MASS covered by the N most
    * frequent types — the planning input for vocab sizing (every token
    * outside the cap becomes <unk>/byte-fallback; this curve prices
    * that). Exact integer counts; only the max(caps) most frequent types
    * matter, so the corpus-wide type table goes through orderBy+limit
    * (TakeOrderedAndProject — per-partition heaps, no single-task rank
    * window over the Heaps-bounded-but-large vocabulary) and the rank is
    * derived over that bounded result; ties rank alphabetically so the
    * curve is deterministic.
    */
  def vocabCoverageCurve(docs: DataFrame,
      caps: Seq[Int] = Seq(100, 500, 1000, 2000)): DataFrame = {
    require(caps.nonEmpty && caps.forall(_ > 0), "caps must be positive")
    // A duplicated cap would double that cap's covered_tokens (two
    // identical rows land in one group and the sums merge).
    val uniqCaps = caps.distinct
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("total_tokens"))
    val w = Window.orderBy(col("c").desc, col("tok").asc)
    val ranked = counts
      .orderBy(col("c").desc, col("tok").asc)
      .limit(uniqCaps.max)
      .withColumn("rank", row_number().over(w).cast("long"))
    val capsDf = uniqCaps.map(n => Tuple1(n.toLong)).toDF("vocab_cap")
    ranked.crossJoin(broadcast(capsDf))
      .filter(col("rank") <= col("vocab_cap"))
      .groupBy("vocab_cap")
      .agg(sum(col("c")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("vocab_cap"), col("covered_tokens"), col("total_tokens"),
        (col("covered_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("coverage"))
  }

  /** Exact positional phrase search over an inverted index — the
    * full-text primitive (Zobel & Moffat 2006, "Inverted files for text
    * search engines"): each query phrase matches where EVERY term w_i
    * appears at position start+i. One pass builds positional postings
    * (doc_id, pos, token); candidate starts come from a single broadcast
    * join against the (phrase, offset, term) table — a token at pos
    * matching term i votes for start = pos − i — and a start wins when it
    * collects all |phrase| votes (each position holds one token, so
    * count(*) = |phrase| ⇔ every offset matched).
    *
    * 100 TB posture: the query table is broadcast (bytes); the only
    * shuffle carries candidate starts — rows whose token appears in some
    * phrase, a term-selectivity-bounded set, never the corpus. No
    * self-join of the postings list, no per-phrase scans: cost is one
    * index build + one aggregation regardless of phrase count.
    */
  def phraseSearch(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // A duplicated phrase would double every vote: a true match then
    // fails the n_terms == phrase_len test and a half-match can pass it.
    val uniq = phrases.distinct
    val terms = uniq.flatMap { p =>
      p.trim.split("\\s+").toSeq.zipWithIndex.map { case (w, i) => (p, i, w) }
    }.toDF("phrase", "i", "w")
    val lens = uniq.map(p => (p, p.trim.split("\\s+").length.toLong))
      .toDF("phrase", "phrase_len")
    val postings = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    postings
      .join(broadcast(terms), col("tok") === col("w"))
      .select(col("phrase"), col("doc_id"), (col("pos") - col("i")).as("start"))
      .where(col("start") >= 0)
      .groupBy(col("phrase"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("n_terms"))
      .join(broadcast(lens), Seq("phrase"))
      .where(col("n_terms") === col("phrase_len"))
      .groupBy(col("phrase"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("start")).cast("long").as("first_pos"))
  }

  /** Byte-pair-encoding merge learning (Sennrich, Haddow & Birch 2016,
    * "Neural machine translation of rare words with subword units") — the
    * subword-vocabulary training primitive. Per round: count adjacent
    * symbol pairs weighted by word frequency, pick the most frequent pair
    * (ties by (left, right) ascending — deterministic), and merge every
    * greedy left-to-right occurrence of that pair in every word.
    *
    * 100 TB posture — the scale story IS classic BPE's word-count
    * compression: the corpus is scanned ONCE (word→count aggregation,
    * map-side combinable, cached vocab-bounded by Heaps' law); every
    * round after that iterates on the word table, never the corpus. The
    * per-round pair aggregate is also map-side combinable, the winning
    * merge is a single bounded driver row (the PageRank-guard precedent),
    * and merge application is a pure codegen'd fold projection — no
    * shuffle grows with rounds.
    *
    * Returns (merges, vocab): merges = one row per learned round
    * (round, left_sym, right_sym, pair_count); vocab = the symbol
    * inventory after applying all merges (symbol, total_count, n_words).
    */
  def bpe(docs: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = bpeWords(docs)
    val (merges, sym) = bpeLearn(words, rounds)
    val mergesDf = merges
      .toDF("round", "left_sym", "right_sym", "pair_count")
      .select(col("round").cast("int"), col("left_sym"), col("right_sym"),
        col("pair_count").cast("long"))
    val vocabDf = words.select(col("word"), col("cnt"), explode(sym).as("symbol"))
      .groupBy("symbol")
      .agg(sum(col("cnt")).cast("long").as("total_count"),
        countDistinct(col("word")).cast("long").as("n_words"))
    (mergesDf, vocabDf)
  }

  /** Tokenizer fertility per source under the corpus-learned BPE merges:
    * subword symbols emitted per word — THE tokenizer-efficiency /
    * equity metric (a source whose text fragments into many symbols pays
    * proportionally more sequence length per word; Ács 2019's fertility).
    * Merges are learned once on the whole corpus ([[bpe]]'s path — the
    * shared word-count cache makes the second call free), then applied
    * as the same codegen'd fold to per-source word counts.
    */
  def bpeFertility(docs: DataFrame, rounds: Int): DataFrame = {
    val (_, sym) = bpeLearn(bpeWords(docs), rounds)
    docs.select(col("source"), explode(tokens(col("text"))).as("word"))
      .where(col("word").rlike("^[a-z]{1,20}$"))
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      .select(col("source"), col("cnt"), size(sym).cast("long").as("n_sym"))
      .groupBy("source")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_sym")).as("n_symbols"))
      .select(col("source"), col("n_words"), col("n_symbols"),
        (col("n_symbols").cast("double") / col("n_words")).as("fertility"))
  }

  /** The corpus word-count table [[bpe]] and [[bpeFertility]] learn from
    * (lowercase-alpha words ≤ 20 chars — bounds fold depth and the
    * oracle's recursion). */
  private def bpeWords(docs: DataFrame): DataFrame =
    wordCache(docs.sparkSession, PlanKeys.fingerprint(docs)) {
      docs.select(explode(tokens(col("text"))).as("word"))
        .where(col("word").rlike("^[a-z]{1,20}$"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .cache()
    }

  /** The learning loop shared by [[bpe]] and [[bpeFertility]]: per round
    * ONE map-side-combinable pair aggregate over the vocab-bounded word
    * table and ONE bounded driver row (the argmax merge). Returns the
    * learned merges and the composed greedy-application fold over a
    * `word` column.
    */
  private def bpeLearn(words: DataFrame,
      rounds: Int): (Seq[(Int, String, String, Long)], Column) = {
    require(rounds >= 1 && rounds <= 16, s"rounds must be in [1,16], got $rounds")
    // Greedy left-to-right merge of (l, r) in a symbol array. A merged
    // symbol l+r can never re-match as the left partner of the SAME pair
    // (l+r != l since r is non-empty), so a plain fold is exactly
    // Sennrich's scan; the size(acc) guard short-circuits before
    // element_at touches an empty array (ANSI mode).
    def mergeFold(sym: Column, l: String, r: String): Column =
      aggregate(sym, array().cast("array<string>"), (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

    val chars = filter(split(col("word"), ""), x => length(x) > 0)
    var sym: Column = chars
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to rounds) {
      val pairs = words.select(col("cnt"), sym.as("sym"))
        .select(col("cnt"),
          explode(arrays_zip(
            slice(col("sym"), lit(1), size(col("sym")) - 1),
            slice(col("sym"), lit(2), size(col("sym")) - 1))).as("p"))
        .groupBy(col("p").getField("0").as("left_sym"),
          col("p").getField("1").as("right_sym"))
        .agg(sum(col("cnt")).as("pair_count"))
      // Bounded driver read: ONE row per round — the learned merge.
      val best = pairs
        .orderBy(desc("pair_count"), asc("left_sym"), asc("right_sym"))
        .limit(1).collect()
      require(best.nonEmpty, s"BPE round $round: no adjacent pairs left")
      val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += ((round, l, r, c))
      sym = mergeFold(sym, l, r)
    }
    (merges.result(), sym)
  }

  // Word-count table shared by the two BPE queries (merges + vocab in one
  // run would otherwise scan and aggregate the corpus twice) — cached per
  // (session, source plan) like Similarity.candCache; released by
  // Ckpt.clearAll like every memo. Bounded by vocabulary
  // size, which grows sublinearly in the corpus (Heaps' law).
  private val wordCache = graft.ops.Ckpt.Memo[Long]("TextAnalysis.wordCache")

  /** Release cached word-count frames for a session. */
  def clearCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.ops.Ckpt.clearModule(spark, "TextAnalysis")

  /** Count-min sketch token counting (Cormode & Muthukrishnan 2005) —
    * the mergeable bounded-memory counting sketch, evaluated against
    * exact counts. The sketch is depth×width counters; each token
    * increments one cell per hash row (salted md5, deterministic across
    * engines and runs); a token's estimate is the MIN over its depth
    * cells, which can only over-count (collisions add, never subtract) —
    * the one-sided error contract asserted per row in the output.
    *
    * Scale shape: building the sketch IS one map-side-combinable
    * aggregation into depth·width groups — bounded state regardless of
    * corpus size or vocabulary, and counters from disjoint shards merge
    * by addition (the property exact counting loses at 100 TB when the
    * vocabulary outgrows memory). The evaluation joins only the heavy
    * set (true count ≥ minCount) against the broadcast-size counter
    * table.
    */
  def countMinSketch(docs: DataFrame, depth: Int = 4, width: Int = 256,
      minCount: Long = 50): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 16 && width <= 65536,
      s"unreasonable sketch shape ${depth}x$width")
    val toks = docs.select(explode(tokens(col("text"))).as("tok"))
    // One explode-struct pass per grid build — a per-h UNION of the
    // corpus subtree re-expands the scan depth× per consumer (the
    // round-14 x228 probe measured the difference), while one
    // generator row per (token, h) keeps a single scan in codegen.
    val counters = toks
      .select(cmsCells(col("tok"), depth, width).as("hc"))
      .select(col("hc.h").as("h"), col("hc.cell").as("cell"))
      .groupBy("h", "cell").agg(count(lit(1)).as("cell_count"))
    val heavy = toks.groupBy("tok").agg(count(lit(1)).as("true_count"))
      .filter(col("true_count") >= minCount)
    val probes = heavy
      .select(col("tok"), col("true_count"),
        cmsCells(col("tok"), depth, width).as("hc"))
      .select(col("tok"), col("true_count"),
        col("hc.h").as("h"), col("hc.cell").as("cell"))
    probes
      .join(broadcast(counters), Seq("h", "cell"))
      .groupBy("tok", "true_count")
      .agg(min(col("cell_count")).as("cms_estimate"))
      .select(col("tok"), col("true_count"), col("cms_estimate"),
        (col("cms_estimate") - col("true_count")).as("overestimate"))
  }

  /** The CMS cell hash shared by [[countMinSketch]] and
    * [[countMinMergeAudit]] — salted md5 so the DuckDB twin reproduces
    * it character for character. */
  private[graft] def cmsCell(h: Int, tok: Column, width: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"cms$h|"), tok).cast("binary")), 1, 8),
      16, 10).cast("long"), lit(width.toLong))

  /** All depth cells of a token as ONE generator (array of (h, cell)
    * structs): explode keeps a single corpus scan where a per-h union
    * would re-expand the upstream subtree depth times. */
  private[graft] def cmsCells(tok: Column, depth: Int, width: Int): Column =
    explode(array((0 until depth).map(h =>
      struct(lit(h).as("h"), cmsCell(h, tok, width).as("cell"))): _*))

  /** Count-min shard-merge audit — the counting sketch's membership
    * proof in the mergeable-sketch audit family (x175 MinHash
    * elementwise-min, x191/x201 HLL register-max, x219 KMV
    * bottom-k-of-union, x226 AMS addition): per-shard depth×width
    * counter grids merged by plain ADDITION must equal the grid built
    * directly over the whole corpus, cell for cell (`n_mismatch`
    * contract 0 — every cell an exact BIGINT occurrence sum), and every
    * hash row of the merged grid must conserve total token mass
    * (Σ cells = corpus token count per row — `mass_mismatch` 0, the
    * invariant a dropped or double-counted shard breaks first). The
    * merged sketch is then USED, not just compared: the heavy set
    * (true count ≥ minCount) probes it and the worst one-sided
    * overestimate rides along, proving the merged counters answer
    * point queries exactly as a direct build would.
    *
    * Scale shape: one (shard × vocab) count aggregate over the corpus;
    * every later step runs on depth·width-bounded counter grids (4×256
    * here) or the vocabulary-sized count table with the grid broadcast.
    * At 100 TB this is the sketch whose per-shard state a fleet ships
    * to the coordinator: depth·width longs per shard, merged by one
    * addition — the property exact counting loses once the vocabulary
    * outgrows memory.
    */
  def countMinMergeAudit(docs: DataFrame, nShards: Int = 8, depth: Int = 4,
      width: Int = 256, minCount: Long = 50): DataFrame = {
    require(nShards >= 2, s"nShards must be >= 2, got $nShards")
    require(depth >= 1 && depth <= 8 && width >= 16 && width <= 65536,
      s"unreasonable sketch shape ${depth}x$width")
    val shardCounts = docs
      .select(pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        explode(tokens(col("text"))).as("tok"))
      .groupBy("shard", "tok").agg(count(lit(1)).as("c"))
    val merged = shardCounts
      .select(col("shard"), col("c"), cmsCells(col("tok"), depth, width).as("hc"))
      .select(col("shard"), col("hc.h").as("h"), col("hc.cell").as("cell"), col("c"))
      .groupBy("shard", "h", "cell").agg(sum(col("c")).as("cc"))
      // the merge under audit: per-shard grids folded by plain addition
      .groupBy("h", "cell").agg(sum(col("cc")).as("c_merged"))
    val corpusCounts = shardCounts.groupBy("tok").agg(sum(col("c")).as("c"))
    val direct = corpusCounts
      .select(col("c"), cmsCells(col("tok"), depth, width).as("hc"))
      .select(col("hc.h").as("h"), col("hc.cell").as("cell"), col("c"))
      .groupBy("h", "cell").agg(sum(col("c")).as("c_direct"))
    val mm = graft.ops.Sharding.mergeMismatches(merged, direct, Seq("h", "cell"),
      "c_merged", "c_direct")
    val nTok = corpusCounts.agg(sum(col("c")).as("n_tokens"))
    val mass = merged.groupBy("h").agg(sum(col("c_merged")).as("row_mass"))
      .crossJoin(broadcast(nTok))
      .agg(coalesce(sum(when(col("row_mass") =!= col("n_tokens"), lit(1L))
        .otherwise(lit(0L))), lit(0L)).as("mass_mismatch"))
    val probes = corpusCounts.filter(col("c") >= minCount)
      .select(col("tok"), col("c").as("true_count"),
        cmsCells(col("tok"), depth, width).as("hc"))
      .select(col("tok"), col("true_count"),
        col("hc.h").as("h"), col("hc.cell").as("cell"))
    val est = probes.join(broadcast(merged), Seq("h", "cell"))
      .groupBy("tok", "true_count")
      .agg(min(col("c_merged")).as("cms_estimate"))
      .agg(count(lit(1)).as("n_heavy"),
        max(col("cms_estimate") - col("true_count")).as("max_overestimate"))
    nTok.crossJoin(broadcast(mm)).crossJoin(broadcast(mass))
      .crossJoin(broadcast(est))
      .select(lit(nShards.toLong).as("n_shards"), lit(depth).as("depth"),
        lit(width).as("width"), col("n_mismatch"), col("mass_mismatch"),
        col("n_tokens"), col("n_heavy"), col("max_overestimate"))
  }

  /** Count-min width calibration — the x114 convention (MinHash's
    * bands/rows curve) applied to the counting sketch: the SAME corpus
    * counted through a sweep of sketch widths, reporting the heavy
    * set's worst and mean one-sided overestimate per width next to the
    * classical expectation bound N/width. This is the table an operator
    * reads to SIZE the sketch — "how wide before the heavy-hitter
    * estimates are trustworthy at our token volume?" — measured on
    * their data instead of assumed from the 1/width folklore.
    *
    * Everything derives from ONE vocabulary count aggregate; each width
    * re-projects the vocab table through [[cmsCells]] (vocab-bounded,
    * not corpus-bounded) and probes the heavy set against its own grid.
    * Counts are exact BIGINTs; mean_overestimate and the bound are one
    * double division each, rounded to 6.
    */
  def countMinCalibration(docs: DataFrame,
      widths: Seq[Int] = Seq(64, 128, 256, 512), depth: Int = 4,
      minCount: Long = 50): DataFrame = {
    require(widths.nonEmpty && widths.forall(w => w >= 16 && w <= 65536),
      s"unreasonable width sweep $widths")
    require(depth >= 1 && depth <= 8, s"unreasonable depth $depth")
    val counts = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val nTok = counts.agg(sum(col("c")).as("n_tokens"))
    val perWidth = widths.map { w =>
      val grid = counts
        .select(col("c"), cmsCells(col("tok"), depth, w).as("hc"))
        .select(col("hc.h").as("h"), col("hc.cell").as("cell"), col("c"))
        .groupBy("h", "cell").agg(sum(col("c")).as("cell_count"))
      val probes = counts.filter(col("c") >= minCount)
        .select(col("tok"), col("c").as("true_count"),
          cmsCells(col("tok"), depth, w).as("hc"))
        .select(col("tok"), col("true_count"),
          col("hc.h").as("h"), col("hc.cell").as("cell"))
      probes.join(broadcast(grid), Seq("h", "cell"))
        .groupBy("tok", "true_count")
        .agg(min(col("cell_count")).as("est"))
        .agg(count(lit(1)).as("n_heavy"),
          max(col("est") - col("true_count")).as("max_overestimate"),
          sum(col("est") - col("true_count")).as("sum_overestimate"))
        .select(lit(w).as("width"), col("n_heavy"), col("max_overestimate"),
          col("sum_overestimate"))
    }.reduce(_ unionByName _)
    perWidth.crossJoin(broadcast(nTok))
      .select(col("width"), lit(depth).as("depth"), col("n_tokens"),
        col("n_heavy"), col("max_overestimate"),
        round(col("sum_overestimate").cast("double")
          / col("n_heavy").cast("double"), 6).as("mean_overestimate"),
        round(col("n_tokens").cast("double") / col("width").cast("double"), 6)
          .as("bound_n_over_w"))
      .orderBy("width")
  }

  /** Content fingerprint: minimum MD5 over word 5-grams — the 1-hash
    * degenerate of MinHash, the winnowing-style "pick a stable
    * representative gram" trick. Two documents sharing a fingerprint are
    * near-certain near-duplicates. MD5 (not xxhash) so the DuckDB oracle
    * can reproduce it; at production scale swap in xxhash64 — the plan
    * shape is identical.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(1), greatest(size(col("ts")) - 4, lit(1)))).as("i"))
      .select(col("doc_id"),
        md5(array_join(slice(col("ts"), col("i"), lit(5)), " ").cast("binary")).as("g"))
      .groupBy("doc_id")
      .agg(min(col("g")).as("fingerprint"))
  // Explode + min-aggregate rather than array_min(transform(...)): the
  // higher-order array lambdas run interpreted (no codegen) and cost ~10x
  // at bench scale; the exploded md5 is codegen'd. The extra shuffle
  // carries only (doc_id, 32-byte hash) — negligible next to the text scan.

  /** Per-source Zipf fit: the log-log OLS slope (and r²) of token
    * frequency against rank over each source's top `topRanks` tokens —
    * natural text sits near slope −1 (Zipf 1949); a corpus whose slope
    * collapses toward 0 is template/boilerplate-dominated, one steeper
    * than ~−1.5 has a degenerate head. The distribution-shape screen a
    * corpus datasheet (x140) wants next to Heaps' law (x121).
    *
    * Determinism: ranks and counts are exact integers; ln(rank) and
    * ln(count) land on a 1e-6 fixed-point grid (floor(x·1e6 + 0.5) —
    * identical-input libm with measure-zero boundary risk, the
    * staircase-decay convention), so all five OLS sums are BIGINT and
    * order-free, and slope/r² are single double expressions from them.
    * Overflow: |xf| ≤ ln(topRanks)·1e6, |yf| ≤ ln(Σtokens)·1e6 — the
    * sums of products stay far below 2⁶³ for topRanks ≤ 10⁴.
    * One shuffle to (source, token) counts, one per-source window over
    * ≤ topRanks rows, one aggregate.
    */
  def zipfSlopeBySource(docs: DataFrame, topRanks: Int = 100): DataFrame = {
    require(topRanks >= 2 && topRanks <= 10000, s"topRanks in [2, 10000], got $topRanks")
    val counts = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy(col("c").desc, col("token").asc)
    val fp = counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topRanks)
      .select(col("source"),
        floor(log(col("rank").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("xf"),
        floor(log(col("c").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("yf"))
    fp.groupBy("source").agg(
        count(lit(1)).as("n_ranks"),
        sum(col("xf")).as("sx"), sum(col("yf")).as("sy"),
        sum(col("xf") * col("xf")).as("sxx"),
        sum(col("xf") * col("yf")).as("sxy"),
        sum(col("yf") * col("yf")).as("syy"))
      .filter(col("n_ranks") >= 2)
      .select(col("source"), col("n_ranks"),
        ((col("n_ranks") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n_ranks") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"),
        // Zero y-variance (every top token equally frequent) has no
        // defined correlation: NULL, 3VL — not a fake 0 or an ANSI error.
        when(col("n_ranks") * col("syy") - col("sy") * col("sy") =!= 0,
          (col("n_ranks") * col("sxy") - col("sx") * col("sy")).cast("double")
            * (col("n_ranks") * col("sxy") - col("sx") * col("sy")).cast("double")
            / ((col("n_ranks") * col("sxx") - col("sx") * col("sx")).cast("double")
              * (col("n_ranks") * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("r2"))
  }
}
