package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** News/text ETL (reference: airflow/dags/iqplus/transform_iqplus_news_dags.py).
  *
  * The reference pipeline is: char-budget truncation → token-budget
  * truncation → summarize (NLP model) → category from URL → word
  * counts → first-occurrence dedup. The model inference is replaced by
  * a deterministic extractive stub (leading sentences), per the brief;
  * everything else is the same computation, expressed as columnar
  * expressions (split/slice/concat_ws) that stay inside whole-stage
  * codegen — no UDFs, no driver loop over articles.
  */
object TextPipeline {

  val CharLimit  = 500  // reference SANITY_CHAR_LIMIT analog (:110)
  val TokenLimit = 64   // reference model token budget analog (:118)
  val SummaryTokens = 24 // reference summary max_length analog (:129)

  /** Transform stage (transform_iqplus_news_dags.py:96-154): truncate,
    * "summarize", derive category, count words. Rows come in no
    * particular order; a caller that needs one sorts.
    */
  def transform(documents: DataFrame): DataFrame = {
    val content = substring(col("text"), 1, CharLimit)
    val words   = split(content, " ")
    val safe    = concat_ws(" ", slice(words, 1, TokenLimit))
    val summary = concat_ws(" ", slice(words, 1, SummaryTokens))
    // reference derives category from the URL path (:138-141); here the
    // `source` column plays the URL role.
    val category = when(
      substring(col("source"), -1, 1).isin("0", "2", "4", "6", "8"),
      lit("market_news")).otherwise(lit("stock_news"))
    documents.select(
      col("doc_id"),
      safe.as("content"),
      summary.as("summary"),
      category.as("category"),
      col("lang"),
      size(split(safe, " ")).cast("long").as("word_count"),
      size(split(summary, " ")).cast("long").as("summary_length"))
  }

  /** Transform stage with a REAL token budget: the reference truncates
    * content by the MODEL TOKENIZER's token count
    * (`tokenizer.encode(..., max_length=...)`,
    * transform_iqplus_news_dags.py:118-124), not by whitespace words —
    * whitespace mis-sizes the budget by the tokenizer's fertility
    * ratio (sub-word splits make n_tokens ≥ n_words). This form keeps
    * the longest WORD PREFIX of the (char-truncated, whitespace-
    * normalized) content whose summed BPE token count fits
    * `tokenBudget`, using the same compiled encoder convention as
    * `bpe_encode` ([[graft.plans.HashExprs.bpeEncode]]) with a pinned
    * merge list. The budget-crossing word is dropped whole (never
    * split) — deterministic, and replayable in SQL via the
    * nested-replace convention the bpe_encode oracle uses.
    *
    * Scale shape: per-word token counts ride a `transform` lambda over
    * the split array and the prefix is one `aggregate` fold — all
    * row-local compiled work inside the scan, no shuffle, no explode
    * of the corpus into words. Word token counts are ≥1 (words are
    * nonempty after normalization), so the running sum is strictly
    * increasing and "first overflow stops" ≡ "keep while cumulative ≤
    * budget" — the property the SQL window replay relies on. Rows come
    * in no particular order; a caller that needs one sorts.
    */
  def transformBpe(documents: DataFrame, merges: Seq[(String, String)],
                   tokenBudget: Int = TokenLimit): DataFrame = {
    val content = graft.functions.TextAnalysis.normalizeWs(
      substring(col("text"), 1, CharLimit))
    val words = split(content, " ")
    val counts = org.apache.spark.sql.functions.transform(words,
      w => graft.plans.HashExprs.bpeEncode(w, merges).getField("n_tokens"))
    val zero = struct(lit(0L).as("tok"), lit(0).as("nw"), lit(false).as("stop"))
    val fold = aggregate(counts, zero, (a, c) => {
      val overflow = a.getField("stop") || (a.getField("tok") + c > tokenBudget)
      struct(
        when(overflow, a.getField("tok")).otherwise(a.getField("tok") + c).as("tok"),
        when(overflow, a.getField("nw")).otherwise(a.getField("nw") + 1).as("nw"),
        overflow.as("stop"))
    })
    val category = when(
      substring(col("source"), -1, 1).isin("0", "2", "4", "6", "8"),
      lit("market_news")).otherwise(lit("stock_news"))
    documents
      .select(col("doc_id"), col("lang"), category.as("category"),
        words.as("ws"), counts.as("tc"), fold.as("f"))
      .select(
        col("doc_id"),
        concat_ws(" ", slice(col("ws"), lit(1), col("f.nw"))).as("content"),
        col("f.tok").as("n_tokens"),
        aggregate(col("tc"), lit(0L), (a, c) => a + c).as("n_tokens_full"),
        (aggregate(col("tc"), lit(0L), (a, c) => a + c) > tokenBudget).as("truncated"),
        col("category"), col("lang"))
  }

  /** First-occurrence dedup by "title" (leading words), reference
    * `find_one({"judul": title})` insert guard (:144,156). Window
    * row_number keeps the earliest doc per title in one shuffle. Rows
    * come in no particular order; a caller that needs one sorts.
    */
  def dedupByTitle(documents: DataFrame, titleWords: Int): DataFrame = {
    val title = concat_ws(" ", slice(split(col("text"), " "), 1, titleWords))
    val w = Window.partitionBy("title").orderBy("doc_id")
    documents
      .select(col("doc_id"), title.as("title"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("title"))
  }

  /** Incremental delta detection BY CONTENT: the rows of `incoming`
    * whose normalized-content fingerprint is not already in
    * `processed` — the streaming-ETL "what's actually new" step. The
    * reference keeps a per-row status flag and re-queries before every
    * insert (find-one-per-record); one anti-join on the fingerprint
    * does the same for the whole batch in a single shuffle, and keying
    * on CONTENT (not id) also skips re-crawled duplicates that arrive
    * under fresh ids.
    */
  def contentDelta(incoming: DataFrame, processed: DataFrame): DataFrame = {
    val fp = graft.functions.TextAnalysis.fingerprintCol(col("text"))
    incoming.select(col("doc_id"), fp.as("fp"))
      .join(processed.select(fp.as("fp")).distinct(), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** Snapshot DRIFT report — the per-language summary of what changed
    * between two corpus snapshots (the review table behind every
    * "crawl N vs crawl N−1" decision): distinct contents added,
    * removed, and retained, with token volumes for the added/removed
    * sides. Keyed on the CONTENT fingerprint like [[contentDelta]],
    * so re-crawls under fresh ids count as retained, not
    * added+removed.
    *
    * Scale shape: each side is one scan projected to (fp, lang,
    * tokens), deduped per snapshot by the fingerprint-window min rule
    * (one fp exchange per side), then a same-key full-outer join —
    * co-partitioned with the dedup exchanges — and a tiny per-lang
    * aggregate. All counts integer; deterministic on both engines.
    */
  def snapshotDrift(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFp = Window.partitionBy("fp")
    def side(df: DataFrame, tag: String): DataFrame =
      df.select(col("doc_id"), col("lang"),
          graft.functions.TextAnalysis.fingerprintCol(col("text")).as("fp"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
        .withColumn("m", min("doc_id").over(byFp))
        .filter(col("doc_id") === col("m"))
        .select(col("fp"), col("lang").as(s"${tag}_lang"), col("toks").as(s"${tag}_toks"))
    side(oldDocs, "o").join(side(newDocs, "n"), Seq("fp"), "full_outer")
      .withColumn("lang", coalesce(col("n_lang"), col("o_lang")))
      .withColumn("added", col("o_lang").isNull)
      .withColumn("removed", col("n_lang").isNull)
      .groupBy("lang")
      .agg(
        sum(when(col("added"), 1L).otherwise(0L)).as("n_added"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(!col("added") && !col("removed"), 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("added"), col("n_toks")).otherwise(0L)).as("tokens_added"),
        sum(when(col("removed"), col("o_toks")).otherwise(0L)).as("tokens_removed"))
      .orderBy("lang")
  }

  /** URL canonicalization + first-occurrence dedup — the crawl-side
    * twin of [[dedupByTitle]]: the same article arrives under
    * `http://` and `https://`, with and without `www.`, with tracking
    * query strings and trailing slashes, and exact-dedup by raw URL
    * misses all of it (the reference keys articles by URL and derives
    * category from its path, transform_iqplus_news_dags.py:138-141).
    * Canonical form: lowercase → strip scheme → strip leading `www.`
    * → strip the query string → strip the trailing slash. One
    * regexp chain (codegen'd scan work) + one groupBy on the
    * canonical key.
    *
    * The synthetic documents table has no URL column, so the gate
    * CONSTRUCTS one deterministically from (source, doc_id) with
    * scheme/www/query/slash variants cycling on doc_id residues and a
    * path bucket that collides by construction (doc_id mod 500) —
    * both engines build the identical string; the operator under test
    * is the canonicalization (same contract as piiScrub's constructed
    * profiles).
    */
  def urlCanonicalDedup(documents: DataFrame): DataFrame = {
    val ck = col("doc_id")
    val url = concat(
      when(ck % 7 === 0, lit("http://")).otherwise(lit("https://")),
      when(ck % 2 === 0, lit("www.")).otherwise(lit("")),
      col("source"), lit(".example.com/articles/"),
      when(substring(col("source"), -1, 1).isin("0", "2", "4", "6", "8"),
        lit("market_news")).otherwise(lit("stock_news")),
      lit("/item-"), (ck % 500).cast("string"),
      when(ck % 5 === 0, lit("/")).otherwise(lit("")),
      when(ck % 3 === 0, lit("?utm_source=feed&utm_campaign=daily")).otherwise(lit("")))
    val canonical =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(url), "^https?://", ""),
            "^www\\.", ""),
          "\\?.*$", ""),
        "/$", "")
    documents
      .select(col("doc_id"), url.as("url"), canonical.as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_variants"))
      .orderBy("canonical_url")
  }

}
