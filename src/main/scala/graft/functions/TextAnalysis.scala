package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * All pure column expressions over builtins (split / regexp_count /
  * md5) plus compiled Catalyst expressions for the per-token passes
  * ([[graft.plans.HashExprs.stopwordHits]] — Spark's higher-order
  * `filter` runs interpreted, one boxed lambda per token) —
  * shuffle-free per-document maps. At 100 TB these run at scan speed.
  */
object TextAnalysis {

  private def words(c: Column): Column = split(trim(c), "\\s+")

  private def countIn(c: Column, vocab: Seq[String]): Column =
    graft.plans.HashExprs.stopwordHits(lower(c), vocab)

  // Tiny stopword profiles per language — the n-gram/stopword
  // heuristic approach of public langid tools, kept small enough to
  // mirror in the DuckDB oracle.
  val EnStops: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  val EsStops: Seq[String] = Seq("el", "la", "de", "en", "es", "los", "que")
  val DeStops: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein", "zu")

  /** Stopword-profile language heuristic: argmax of per-language
    * stopword hits, ties resolved en > es > de > unknown. Rows come in
    * no particular order; a caller that needs one sorts.
    */
  def langId(documents: DataFrame): DataFrame = {
    val en = countIn(col("text"), EnStops)
    val es = countIn(col("text"), EsStops)
    val de = countIn(col("text"), DeStops)
    documents.select(
      col("doc_id"),
      en.cast("long").as("en_hits"), es.cast("long").as("es_hits"), de.cast("long").as("de_hits"),
      when(en >= es && en >= de && en > 0, lit("en"))
        .when(es >= de && es > 0, lit("es"))
        .when(de > 0, lit("de"))
        .otherwise(lit("unknown")).as("lang_pred"))
  }

  /** [[langId]] evaluated against the corpus' ground-truth labels —
    * the CONFUSION MATRIX every classifier audit starts with: one row
    * per (true lang, predicted lang) with count and the true-lang row
    * share in integer basis points. Catches where the heuristic
    * actually leaks (which true language gets mislabeled as what),
    * which the aggregate accuracy number hides. The matrix is
    * L×(L+1) rows — constant-size; the window normalizes over it, not
    * the corpus.
    */
  def langConfusion(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTrue = Window.partitionBy("lang")
    documents.select(col("doc_id"), col("lang"))
      .join(langId(documents).select(col("doc_id"), col("lang_pred")), "doc_id")
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum("n").over(byTrue))
      .withColumn("row_bp", expr("(10000 * n) div row_total"))
      .select(col("lang"), col("lang_pred"), col("n"), col("row_bp"))
      .orderBy("lang", "lang_pred")
  }

  /** Default lang_segments window: long enough for a stopword signal,
    * short enough to catch paragraph-level language switches.
    */
  val SegmentWindow = 16

  /** Per-document LANGUAGE SEGMENTATION — the span-level refinement of
    * [[langId]] for mixed-language documents (common in web corpora):
    * fixed [[SegmentWindow]]-token windows are language-ID'd with the
    * same stopword-profile argmax as whole-doc lang_id (ties
    * en > es > de > unknown), then adjacent same-language windows
    * merge into segments. Output is one row per (doc, segment) with
    * its REAL token count, so per-language token budgets / sampling
    * rates are computed from span-level counts instead of a whole-doc
    * argmax that hides the minority language entirely.
    *
    * One compiled pass per document
    * ([[graft.plans.HashExprs.langSegments]]) — no token explode, no
    * shuffle; the explode→window→groupBy formulation would shuffle
    * one row per corpus token at 100 TB.
    */
  def langSegments(documents: DataFrame): DataFrame = {
    val segs = graft.plans.HashExprs.langSegments(lower(col("text")),
      SegmentWindow, Seq("en" -> EnStops, "es" -> EsStops, "de" -> DeStops))
    documents
      // blank docs have no tokens, hence no segments, on either engine
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), posexplode(segs))
      .select(col("doc_id"), col("pos").cast("long").as("seg_idx"),
        col("col.lang").as("lang"), col("col.n_tokens").as("n_tokens"))
      .orderBy("doc_id", "seg_idx")
  }

  /** Whitespace word count as a column — the `word_count` of
    * [[qualityScore]], exposed for operators that fold the quality
    * gate into a wider single-scan projection ([[graft.operators
    * .Corpus.curated]]).
    */
  def wordCountCol(c: Column): Column = size(words(c)).cast("long")

  /** The bounded composite quality score as a standalone column — ONE
    * definition of "document quality" shared by the batch feature
    * table ([[qualityScore]]), the per-source reputation aggregate,
    * and the streaming source monitor (a formula drifting between
    * consumers would make their decisions incomparable).
    */
  def qualityCol(c: Column): Column =
    qualityBp(c).cast("double") / 10000.0

  /** Exact BIGINT integral division (the SQL `div` operator) as a
    * Column — the building block of the ratio identities below.
    */
  private def divL(n: Column, d: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftSqlBridge.expression(n),
        org.apache.spark.sql.GraftSqlBridge.expression(d)))

  /** HALF_UP basis points of n/d on non-negative BIGINT operands:
    * (2·n·10⁴ + d) div (2·d) — the engine-exact ratio convention.
    */
  private def ratioBp(n: Column, d: Column): Column =
    divL(n * 20000L + d, d * 2)

  /** Punctuation ratio in integer 4dp basis points. Integer, not
    * `round(double, 4)`: these ratios can land EXACTLY on rounding
    * boundaries (terminating decimals whenever the denominator's
    * factors are all 2s and 5s), where Spark's shortest-repr HALF_UP
    * and a binary-value round() disagree — the identity has no
    * boundary semantics at all (SURVEY §6).
    */
  def punctBp(c: Column): Column = {
    val nChars = length(c).cast("long")
    // zero-char guard: ANSI mode (Spark 4 default) turns the division
    // on an empty document into a DIVIDE_BY_ZERO error, not a null
    when(nChars > 0,
      ratioBp(regexp_count(c, lit("[.!?,;:]")).cast("long"), nChars))
      .otherwise(lit(0L))
  }

  /** The composite quality score in integer 4dp basis points:
    * 10⁴·quality = HALF_UP(min(wc,100)·(10⁴ − punct_bp) / 100) — the
    * all-integer form of min(wc/100, 1)·(1 − punct_ratio), exact in
    * any engine ([[punctBp]]'s argument).
    */
  def qualityBp(c: Column): Column =
    divL(lit(2L) * least(size(words(c)).cast("long"), lit(100L)) *
      (lit(10000L) - punctBp(c)) + lit(100L), lit(200L))

  /** Quality features: length, word stats, punctuation ratio, stopword
    * ratio, and a bounded composite score — the standard pre-training
    * quality-filter feature set (length/punct/stopword heuristics).
    * Rows come in no particular order; a caller that needs one sorts.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val nChars = length(col("text")).cast("long")
    val wcount = size(words(col("text"))).cast("long")
    val stops  = countIn(col("text"), EnStops).cast("long")
    // every ratio through the integer bp identity ([[punctBp]]'s
    // boundary argument), emitted as the exact /10⁴ double
    documents.select(
      col("doc_id"),
      nChars.as("n_chars"),
      wcount.as("word_count"),
      (punctBp(col("text")).cast("double") / 10000.0).as("punct_ratio"),
      (ratioBp(stops, wcount).cast("double") / 10000.0).as("stopword_ratio"),
      (ratioBp(nChars - wcount + 1, wcount).cast("double") / 10000.0)
        .as("avg_word_len"),
      qualityCol(col("text")).as("quality"))
  }

  /** The quality KEEP/DROP decision itself (the filter stage every
    * pre-training pipeline runs after scoring): keep documents whose
    * composite quality and length clear the thresholds. A pure row
    * predicate over [[qualityScore]] — scan-speed, pushdown-friendly,
    * no shuffle.
    */
  def qualityFilter(documents: DataFrame, minQuality: Double = 0.5,
                    minWords: Int = 20): DataFrame =
    qualityScore(documents)
      .filter(col("quality") >= minQuality && col("word_count") >= minWords)
      .select(col("doc_id"), col("word_count"), col("quality"))
      .orderBy("doc_id")

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation), the usual cheap
    * proxy for subword token counts. Rows come in no particular order;
    * a caller that needs one sorts.
    */
  def tokenCount(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(words(col("text"))).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("bpe_tokens"))

  /** Text cleaning for training-data pipelines: strip markup tags,
    * drop control characters, collapse whitespace, trim. All
    * regexp_replace — codegen'd, scan-speed. (The reference's news
    * pipeline receives pre-scraped text; a real crawl pipeline needs
    * this stage before any dedup/quality step.)
    */
  def cleanCol(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(c, "<[^>]*>", " "), // markup tags
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""), // control chars
      "\\s+", " "))

  def textClean(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      cleanCol(col("text")).as("clean_text"),
      length(cleanCol(col("text"))).cast("long").as("clean_chars"))
      .orderBy("doc_id")

  /** THE canonical text normalization (trim, collapse whitespace,
    * lowercase) shared by fingerprinting and every shingle-based
    * near-dup operator — one definition so "the same text" means the
    * same thing everywhere.
    */
  def normalizeWs(c: Column): Column =
    lower(graft.plans.HashExprs.squeezeWs(c))

  /** Per-document repetition signals (the Gopher/RefinedWeb-style
    * repetition filter features): duplicate-word fraction and the
    * most-frequent-bigram fraction. One compiled pass per document
    * ([[graft.plans.HashExprs.repetitionStats]]) — shuffle-free scan
    * work, where the explode→groupBy formulation would shuffle one
    * row per bigram occurrence (≈ corpus token count) at 100 TB.
    * The 4dp ratios use the exact integer HALF_UP identity
    * `(20000·n + d) div (2·d)` — documents routinely have power-of-2
    * word counts, which land ratios on exact 5th-decimal halves where
    * Spark (HALF_UP) and DuckDB (half-even) double rounding split.
    */
  def repetition(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        graft.plans.HashExprs.repetitionStats(normalizeWs(col("text"))).as("s"))
      .select(col("doc_id"),
        col("s.n_words").as("n_words"),
        col("s.n_distinct_words").as("n_distinct_words"),
        col("s.top_bigram_count").as("top_bigram_count"))
      // both ratios guard their zero-words / one-word denominators:
      // under ANSI mode (Spark 4 default) an unguarded `div` throws
      // DIVIDE_BY_ZERO on the first empty document
      .withColumn("dup_word_frac",
        when(col("n_words") > 0,
          expr("((n_words - n_distinct_words) * 20000 + n_words) div (2 * n_words)")
            .cast("double") / 10000)
          .otherwise(lit(0.0)))
      .withColumn("top_bigram_frac",
        when(col("n_words") > 1,
          expr("(top_bigram_count * 20000 + (n_words - 1)) div (2 * (n_words - 1))")
            .cast("double") / 10000)
          .otherwise(lit(0.0)))
      .orderBy("doc_id")

  /** Gopher-style named rule filter (the multi-rule document gate of
    * Rae et al. 2021 §A1.1 / RefinedWeb): each rule is a separate
    * boolean column so downstream can report WHY a document was
    * dropped (the reason histogram is the pipeline-tuning artifact),
    * plus the conjunction `keep`. All signals are integer arithmetic
    * over one compiled scan ([[graft.plans.HashExprs.repetitionStats]]
    * + length counters on the whitespace-normalized text) — ratios as
    * basis points via integer div, so no float ever exists and both
    * engines agree exactly. Shuffle-free scan work at any scale.
    *
    * Mean word length exploits the normalization invariant: after
    * `normalizeWs` words are single-space separated, so total word
    * chars = length(nt) − (n_words − 1) — no second tokenize pass.
    */
  def gopherRules(documents: DataFrame,
                  minWords: Long = 30L, maxWords: Long = 100000L,
                  minAwlC: Long = 300L, maxAwlC: Long = 1000L,
                  maxDupBp: Long = 6000L, maxSymbolBp: Long = 1000L): DataFrame = {
    val nt = normalizeWs(col("text"))
    documents
      .select(col("doc_id"),
        graft.plans.HashExprs.repetitionStats(nt).as("s"),
        length(nt).as("nt_len"),
        length(regexp_replace(nt, "[a-z0-9 ]", "")).as("n_symbols"))
      .select(col("doc_id"),
        col("s.n_words").as("n_words"),
        col("s.n_distinct_words").as("n_distinct"),
        col("nt_len"), col("n_symbols"))
      .filter(col("n_words") > 0)
      // awl_c: mean word length in centi-chars; dup/symbol in basis points
      .withColumn("awl_c", expr("((nt_len - (n_words - 1)) * 100) div n_words"))
      .withColumn("dup_bp", expr("((n_words - n_distinct) * 10000) div n_words"))
      .withColumn("symbol_bp", expr("(n_symbols * 10000) div nt_len"))
      .withColumn("rule_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("rule_mean_word_len",
        col("awl_c") >= minAwlC && col("awl_c") <= maxAwlC)
      .withColumn("rule_dup_word", col("dup_bp") <= maxDupBp)
      .withColumn("rule_symbol", col("symbol_bp") <= maxSymbolBp)
      .withColumn("keep",
        col("rule_word_count") && col("rule_mean_word_len") &&
          col("rule_dup_word") && col("rule_symbol"))
      .select("doc_id", "n_words", "awl_c", "dup_bp", "symbol_bp",
        "rule_word_count", "rule_mean_word_len", "rule_dup_word",
        "rule_symbol", "keep")
      .orderBy("doc_id")
  }

  /** PII pattern in the NANP-ish `nn-nnn-nnn-nnnn` shape. Deliberately
    * anchored with `\b` and written in the regex subset Java and RE2
    * interpret identically, so the redaction is oracle-verifiable.
    */
  val PhonePattern = "\\b\\d{2}-\\d{3}-\\d{3}-\\d{4}\\b"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** PII scrubbing — the redaction stage every training-data pipeline
    * runs before anything leaves the raw zone: replace phone/email
    * matches with typed placeholders and count what was redacted
    * (the redaction-rate metric drives pipeline monitoring). Pure
    * regexp_replace/regexp_count — codegen'd, scan-speed.
    *
    * The synthetic customer table carries no PII-bearing columns, so
    * the profile string under test is CONSTRUCTED deterministically
    * from c_custkey (both engines build the identical string — the
    * operator under test is the redaction, not the profile). Rows come
    * in no particular order; a caller that needs one sorts.
    */
  def piiScrub(customer: DataFrame): DataFrame = {
    val ck = col("c_custkey")
    val profile = concat_ws(" ",
      col("c_name"),
      format_string("%02d-%03d-%03d-%04d",
        pmod(ck, lit(90)) + 10, pmod(ck * 7, lit(1000)),
        pmod(ck * 13, lit(1000)), pmod(ck * 31, lit(10000))),
      when(ck % 3 === 0, concat(lit("user"), ck, lit("@example.com"))).otherwise(lit("")),
      col("c_mktsegment"))
    customer.select(ck, profile.as("profile"))
      .select(col("c_custkey"),
        regexp_count(col("profile"), lit(PhonePattern)).cast("long").as("n_phones"),
        regexp_count(col("profile"), lit(EmailPattern)).cast("long").as("n_emails"),
        regexp_replace(
          regexp_replace(col("profile"), lit(EmailPattern), lit("<EMAIL>")),
          lit(PhonePattern), lit("<PHONE>")).as("redacted"))
  }

  /** Whitespace-normalized content fingerprint (md5). The dedup
    * primitive: equal fingerprints = exact duplicates modulo
    * whitespace.
    */
  def fingerprintCol(c: Column): Column = md5(normalizeWs(c))

  def fingerprint(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      fingerprintCol(col("text")).as("fp"))
      .orderBy("doc_id")
}
