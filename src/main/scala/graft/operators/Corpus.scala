package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.plans.HashExprs

/** Corpus-level text operators — the cross-document statistics a
  * pre-training pipeline computes over the WHOLE corpus (vs the
  * per-document scan work in [[graft.functions.TextAnalysis]]).
  */
object Corpus {


  /** Corpus vocabulary: term frequency + document frequency, top-k
    * terms by tf. The classic map-side-combinable aggregation: explode
    * words → one hash aggregate keyed by word (partial aggregation
    * absorbs the token-count explosion before the shuffle, so the
    * exchange carries ≈ |vocab| × partitions rows, not corpus tokens);
    * the distinct doc_id count plans as a two-level aggregate the same
    * way. Top-k via TakeOrdered — no global sort.
    */
  def vocabTopK(documents: DataFrame, k: Int = 50): DataFrame =
    documents
      .select(col("doc_id"),
        explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      // an entirely-empty document splits to [""] — not a word
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
      .orderBy(col("tf").desc, col("word"))
      .limit(k)

  /** Tokenizer-coverage (OOV) report per language: the fraction of
    * token OCCURRENCES outside the corpus' own top-`vocabSize` terms —
    * the table that sizes a vocabulary (or flags a language a shared
    * vocab underserves) before committing to a tokenizer. `oov_bp` is
    * integer basis points, engine-exact.
    *
    * Scale shape: the vocab is the [[vocabTopK]] aggregate's top-k via
    * TakeOrdered — a BOUNDED artifact (`vocabSize` rows, the codebook
    * contract), broadcast back; the corpus token stream then joins the
    * broadcast vocab and reduces per language. Two corpus scans, no
    * corpus-sized shuffle beyond the word aggregate's map-side-combined
    * exchange.
    */
  def oovRate(documents: DataFrame, vocabSize: Int = 1000): DataFrame = {
    val toks = documents
      .select(col("lang"),
        explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("word")).limit(vocabSize)
      .select(col("word"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_bp", expr("(10000 * n_oov) div n_tokens"))
      .orderBy("lang")
  }

  /** Per-language corpus composition report — the first table every
    * corpus curation review asks for: document counts, token/char
    * volume, and mean document length per language. One map-side
    * combinable aggregation over a narrow projection.
    */
  def report(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("wc"),
        length(col("text")).cast("long").as("nc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("wc").as("total_words"),
        sum("nc").as("total_chars"))
      .withColumn("avg_words",
        expr("(total_words * 20000 + n_docs) div (2 * n_docs)").cast("double") / 10000)
      .orderBy("lang")

  /** Per-language document-LENGTH histogram in fixed 16-token buckets
    * (capped at bucket 8 ≡ 128+ tokens) — the length-distribution
    * table a curation review reads before setting min/max-length
    * filters, and the before/after evidence that a filter did what
    * it claimed. All-integer bucketing (`tokens div 16`), so the
    * histogram is engine-exact; one map-side-combinable aggregate
    * over a narrow scan, output is |langs| × 9 rows.
    */
  def lengthHistogram(documents: DataFrame, bucketWidth: Int = 16,
                      maxBucket: Int = 8): DataFrame =
    documents
      .select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
      .withColumn("bucket", least(expr(s"toks div $bucketWidth"), lit(maxBucket.toLong)))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("total_tokens"))
      .withColumn("bucket_lo", col("bucket") * bucketWidth)
      .select("lang", "bucket", "bucket_lo", "n_docs", "total_tokens")
      .orderBy("lang", "bucket")

  /** Top-k word BIGRAMS by corpus frequency with document frequency —
    * the first iteration of BPE-style merge-candidate selection (the
    * most frequent adjacent pair is the next merge), and the
    * collocation table of corpus exploration. Reuses the compiled
    * n-gram expression ([[HashExprs.wordNgrams]], n = 2); the same
    * map-side-combinable tf/df aggregate as [[vocabTopK]], top-k via
    * TakeOrdered, no global sort.
    */
  def bigramTopK(documents: DataFrame, k: Int = 30): DataFrame =
    documents
      .select(col("doc_id"),
        explode(HashExprs.wordNgrams(TextAnalysis.normalizeWs(col("text")), 2)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
      .orderBy(col("tf").desc, col("gram"))
      .limit(k)

  /** Corpus word-frequency table (word, freq) — the bounded statistic
    * every tokenizer-induction step runs on: one corpus scan, one
    * map-side-combinable aggregate keyed by word (the exchange
    * carries ≈ |vocab| × partitions rows, not corpus tokens).
    */
  private def wordFreq(documents: DataFrame): DataFrame =
    documents
      .select(explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))

  /** Character-pair statistics of the corpus — BPE training's FIRST
    * iteration, exactly: adjacent character-pair counts weighted by
    * corpus word frequency, top-k by count with lexicographic
    * tie-break. The top row IS the first merge [[bpeTrain]] learns
    * (spec-asserted), which makes the distributed statistic behind
    * tokenizer induction oracle-checkable even though the full merge
    * LOOP is iterative. Scale shape: the pair explode runs over the
    * aggregated VOCAB table (|vocab| rows, not corpus tokens), so the
    * corpus itself is scanned once by [[wordFreq]] and never again.
    */
  def bpePairCounts(documents: DataFrame, k: Int = 40): DataFrame =
    wordFreq(documents)
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(expr("substr(word, i, 1)").as("left_sym"),
        expr("substr(word, i + 1, 1)").as("right_sym"), col("freq"))
      .groupBy("left_sym", "right_sym")
      .agg(sum("freq").as("pair_count"))
      .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
      .limit(k)

  /** One learned BPE merge: `left + right -> left+right`, with the
    * weighted pair count that selected it at `rank`.
    */
  final case class BpeMerge(rank: Int, left: String, right: String,
                            pairCount: Long)

  /** Learn `nMerges` BPE merges from the corpus — tokenizer induction
    * as a first-class corpus operator. The distributed part is ONE
    * corpus scan into the word-frequency aggregate; the merge loop
    * then runs on the collected vocabulary, which is bounded by
    * `maxVocab` (frequency-ranked trim, deterministic (freq desc,
    * word) order — the standard tokenizer-training practice: rare
    * tail words cannot move top-merge counts materially). The
    * collected table is the same bounded-artifact contract as the IVF
    * codebooks: |vocab| ≤ maxVocab rows regardless of corpus size, so
    * the driver never holds corpus-proportional state. Each iteration
    * recounts pairs from the current segmentations (O(vocab chars))
    * and picks the max-count pair, ties broken lexicographically on
    * (left, right) — fully deterministic, engine-independent.
    *
    * Training applies each learned merge as a single left-to-right
    * sweep per word — the SAME convention [[HashExprs.bpeEncode]]
    * replays, so encode(trained merges) segments training words
    * identically to how training left them (spec-asserted).
    */
  def bpeTrain(documents: DataFrame, nMerges: Int = 16,
               maxVocab: Int = 65536): Seq[BpeMerge] = {
    val vocab = wordFreq(documents)
      .orderBy(col("freq").desc, col("word"))
      .limit(maxVocab)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // one symbol per CODEPOINT — the SAME splitter the compiled
    // encoder uses, so trained merges and encode-time symbols agree
    val words = vocab.map { case (w, f) =>
      (scala.collection.mutable.ArrayBuffer[String](
        HashExprs.codepointSymbols(w, 0, w.length): _*), f)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        out += BpeMerge(rank, l, r, c)
        val merged = l + r
        words.foreach { case (syms, _) =>
          var si = 0
          var oi = 0
          while (si < syms.length) {
            if (si + 1 < syms.length && syms(si) == l && syms(si + 1) == r) {
              syms(oi) = merged; si += 2
            } else { syms(oi) = syms(si); si += 1 }
            oi += 1
          }
          syms.remove(oi, syms.length - oi)
        }
        rank += 1
      }
    }
    out.toSeq
  }

  /** Persist a trained merge list as a durable MODEL artifact —
    * tokenizers are trained once and then consumed by every encode
    * job, batch or streaming, so the merges belong on disk next to
    * the indexes, not in a driver variable: rows (rank, left, right,
    * pair_count), rank being the application order. Kilobytes at any
    * vocabulary size (≤50k merges).
    */
  def writeBpeModel(spark: org.apache.spark.sql.SparkSession,
                    merges: Seq[BpeMerge], path: String): Unit = {
    import spark.implicits._
    merges.toDF("rank", "left", "right", "pair_count")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted BPE model back into application order —
    * the (bounded) artifact read every encode job starts with.
    */
  def loadBpeModel(spark: org.apache.spark.sql.SparkSession,
                   path: String): Seq[(String, String)] =
    graft.sources.Tables.parquet(spark, path)
      .orderBy("rank")
      .collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
      .toSeq

  /** Encode every document with an ordered merge list — the corpus
    * form of [[HashExprs.bpeEncode]]: (doc_id, encoded, n_tokens),
    * scan-speed compiled work, merges riding the plan as a bounded
    * closure (no shuffle, no join).
    */
  def bpeEncodeDocs(documents: DataFrame,
                    merges: Seq[(String, String)]): DataFrame =
    documents
      .select(col("doc_id"),
        HashExprs.bpeEncode(TextAnalysis.normalizeWs(col("text")), merges).as("e"))
      .select(col("doc_id"), col("e.encoded").as("encoded"),
        col("e.n_tokens").as("n_tokens"))
      .orderBy("doc_id")

  /** Token-fertility report per (lang, source): BPE tokens vs
    * whitespace words and the fertility ratio (tokens per word) —
    * the number that converts a word-count data budget into a real
    * token budget per slice of the mix (fertility varies by language
    * and source register, so a corpus-global constant mis-sizes
    * every non-English slice; this is the measurement behind
    * [[graft.operators.TextPipeline]]'s BPE-budget truncation).
    * One compiled encode pass over the corpus (merges ride the plan
    * as a bounded closure, no join), then a few-group aggregate —
    * map-side partials make the shuffle rows-per-slice, not
    * rows-per-doc. Ratio at 4dp via the integer HALF_UP identity
    * (decimal(38,0) sums: token totals at 100 TB pass 2^63).
    */
  def fertilityReport(documents: DataFrame,
                      merges: Seq[(String, String)]): DataFrame =
    documents
      .select(col("lang"), col("source"),
        size(split(graft.functions.TextAnalysis.normalizeWs(col("text")), " "))
          .cast("long").as("ws"),
        HashExprs.bpeEncode(graft.functions.TextAnalysis.normalizeWs(col("text")),
          merges).getField("n_tokens").as("bpe"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("ws").as("total_words_l"), sum("bpe").as("total_tokens_l"))
      .withColumn("w_l", col("total_words_l").cast("decimal(38,0)"))
      .withColumn("t_l", col("total_tokens_l").cast("decimal(38,0)"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("total_words_l").as("total_words"),
        col("total_tokens_l").as("total_tokens"),
        (expr("(t_l * 20000 + w_l) div (w_l * 2)").cast("double") / 10000)
          .as("fertility"))
      .orderBy("lang", "source")

  /** Per-document top-k terms by tf·idf — the keyword/topic-feature
    * step (the reference's category derivation is a crude fixed-rule
    * version of this). idf is kept RATIONAL (tf·N/df, no logarithm):
    * ln() implementations differ across engines/libms in the last
    * ulp, while integer-ratio doubles are IEEE-exact, which is what
    * makes the ranking and the 4dp display value reproducible
    * anywhere. Ranking compares tf·N/df as doubles: distinct
    * rationals with these magnitudes differ by ≥ 1/(bd) ≫ one ulp,
    * so the order is engine-independent too.
    *
    * Scale contract for the df (vocabulary) side: an UNTRIMMED
    * web-scale vocabulary is billions of terms (hapax legomena grow
    * linearly with the corpus) — broadcasting it would kill the
    * driver, so the default computes df as a WINDOW over the word key
    * (one word exchange of the tf table; the aggregate-plus-join-back
    * alternative exchanges tf on word twice and can never share the
    * exchange — the branches prune differently). `minDf` trims the
    * vocabulary (df ≥ minDf, the standard tf·idf trim — a term in
    * <minDf documents can't be a corpus-level feature); a TRIMMED
    * vocabulary grows ~√corpus (Heaps' law) and stays megabytes, so
    * callers that trim may set `broadcastVocab=true` to join a
    * broadcast df table instead, skipping the tf-side word exchange
    * entirely.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3, minDf: Long = 1L,
                    broadcastVocab: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = documents.select(col("doc_id"),
      explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    val withDf =
      if (broadcastVocab) {
        val dfrAll = tf.groupBy("word").agg(count(lit(1)).as("df"))
        val dfr = if (minDf > 1L) dfrAll.filter(col("df") >= minDf) else dfrAll
        tf.join(broadcast(dfr), "word")
      } else {
        val all = tf.withColumn("df",
          count(lit(1)).over(Window.partitionBy("word")))
        if (minDf > 1L) all.filter(col("df") >= minDf) else all
      }
    withDf
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        // 4dp in exact integer math — rational scores land on exact
        // 5th-decimal halves (e.g. df = 128), where engines' double
        // rounding splits
        (expr("(tf * n_docs * 20000 + df) div (2 * df)").cast("double") / 10000)
          .as("tfidf"),
        col("rn"))
      .orderBy("doc_id", "rn")
  }

  /** BM25-family lexical top-k retrieval — score every document
    * against a bag-of-words query and return the k best: the text
    * twin of the embedding ANN family ([[graft.operators
    * .Similarity]]), and the retrieval use of the tf/df statistics
    * [[tfidfTopTerms]] ranks with.
    *
    * The scoring is Okapi BM25 (k1 = 1.2, b = 0.75) with the
    * Robertson log-idf replaced by its rational core
    * (2N − 2df + 1)/(2df + 1) and every division done in scaled
    * integer arithmetic — the same log-free fixed-point trick as
    * [[tfidfTopTerms]], so the score is bit-identical in any engine
    * (doubles would drift in the last ulp and flake verification).
    * Both factors carry scale 10³, so a score term has scale 10⁶;
    * magnitudes stay in int64 up to ~10¹² documents: idf_fp ≤ 2N·10³,
    * and sat_fp depends only on DOCUMENT length (avgdl is
    * pre-truncated to centitokens), not corpus size.
    *
    * Plan shape for 100 TB: per-term tf is size(words) −
    * size(array_remove(words, term)) — native codegen'd array ops,
    * no explode, no HOF lambda; corpus-wide stats (N, Σdl, per-term
    * df) are ONE single-row aggregate cross-joined back (broadcast
    * of a scalar row); the result is a TakeOrdered top-k. Two corpus
    * scans, ZERO corpus shuffle — retrieval at scan speed.
    */
  /** The scale-10⁶ fixed-point BM25 term contribution — ONE formula
    * shared by the scan path ([[bm25TopK]]) and the index probe
    * ([[bm25FromIndex]]); expects columns n, avgdl_x, dl, tf_i, df_i
    * in scope. The two paths MUST agree bit-for-bit (the indexed gate
    * reuses the direct gate's oracle).
    */
  private def bm25TermFp(i: Int): org.apache.spark.sql.Column =
    expr(s"(((2 * n - 2 * df_$i + 1) * 1000) div (2 * df_$i + 1)) * " +
      s"((22 * tf_$i * avgdl_x * 1000) div " +
      s"(10 * tf_$i * avgdl_x + 3 * avgdl_x + 900 * dl))")

  def bm25TopK(documents: DataFrame, query: String = "spark table scan",
               k: Int = 10): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "empty query")
    val ws = split(TextAnalysis.normalizeWs(col("text")), " ")
    def tfCol(t: String): org.apache.spark.sql.Column =
      size(ws) - size(array_remove(ws, t))
    // materialized once: the tokenized (doc_id, dl, tf_*) table is
    // consumed twice (corpus-stats aggregate + final scoring scan) and
    // the two sit on opposite sides of a broadcast — no exchange
    // exists for Spark to reuse, so without this the corpus is
    // tokenized twice per query. The checkpoint is |docs| × (2 +
    // |terms|) longs — the narrow per-doc projection, never the text.
    val base = documents.select(
      col("doc_id") +: size(ws).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) => tfCol(t).cast("long").as(s"tf_$i") }: _*)
      .localCheckpoint(true)
    val statAggs = count(lit(1)).as("n") +: sum(col("dl")).as("s") +:
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
      .withColumn("avgdl_x", expr("(100 * s) div n"))
    val termScore = terms.indices.map(i => bm25TermFp(i)).reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .withColumn("score_fp", termScore)
      .filter(col("score_fp") > 0)
      .select((col("doc_id") +: col("score_fp").as("score_fp") +:
        terms.indices.map(i => col(s"tf_$i"))): _*)
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(k)
  }

  /** Posting rows + the (n, Σdl) stats row for a document frame —
    * ONE tokenization shared by index build and append (a drift
    * between them would skew tf/df for appended batches only).
    */
  private def bm25Postings(documents: DataFrame): (DataFrame, (Long, Long)) = {
    val ws = split(TextAnalysis.normalizeWs(col("text")), " ")
    val postings = documents
      .select(col("doc_id"), size(ws).cast("long").as("dl"), explode(ws).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word", "doc_id")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
    val st = documents
      .agg(count(lit(1)).as("n"), sum(size(ws).cast("long")).as("s")).head()
    (postings, (st.getAs[Long]("n"), st.getAs[Long]("s")))
  }

  /** Persist the INVERTED INDEX behind [[bm25FromIndex]]: posting
    * rows (word, doc_id, tf, dl) bucketed on `word` — the probe's
    * join/window key — with the corpus stats (N, Σdl) stamped as
    * table properties so a probe touches NOTHING but the index.
    * dl rides each posting (denormalized) so scoring needs no
    * doc-side join. Ingest-time cost: one explode + one (word,
    * doc_id) aggregation + one stats scan — paid once; every query
    * thereafter reads only the buckets its terms hash to.
    */
  def writeBm25Index(documents: DataFrame, table: String, numBuckets: Int = 8): Unit = {
    // full rebuild: previous-generation side artifacts drop
    // (IndexMaintenance.resetTableIndexSides — stale tombstones would
    // silently anti-join fresh rows out; stale batch marks would
    // silently skip a reused stream's live batches)
    graft.sources.IndexMaintenance.resetTableIndexSides(
      documents.sparkSession, table)
    val (postings, (n, s)) = bm25Postings(documents)
    graft.sources.Sinks.writeBucketed(postings, table, Seq("word"), numBuckets)
    documents.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('graft.bm25.n'='$n','graft.bm25.s'='$s')")
  }

  /** Index MAINTENANCE: append an arriving batch's postings to the
    * persisted inverted index and restamp the corpus stats —
    * completing the same build → probe → extend lifecycle as the
    * minhash and containment indexes, so a growing corpus never
    * pays a full posting rebuild. The df side needs no maintenance
    * at all: [[bm25FromIndex]] derives df from the posting rows at
    * probe time, so appended postings are counted automatically.
    *
    * CONTRACT: the batch must be NEW doc_ids — re-appending an
    * indexed document would duplicate its postings (and double its
    * tf); on updates, rebuild (deletions go through
    * [[deleteFromBm25Index]] tombstones). Missing stats stamp
    * (table not written by [[writeBm25Index]]) is an error.
    * SINGLE WRITER, like every index append here: the posting
    * append and the stats restamp are two catalog operations, not
    * one transaction (plain parquet tables have no multi-writer
    * story). A crash between them — or two concurrent appenders
    * racing the read-modify-write restamp — leaves postings and
    * stats inconsistent; serialize appends (the foreachBatch sink
    * pattern does) and run [[repairBm25Stats]] after a suspected
    * partial append.
    */
  def appendToBm25Index(newDocs: DataFrame, table: String, numBuckets: Int = 8): Unit =
    graft.sources.IndexMaintenance.withTableWriterLease(
      newDocs.sparkSession, table) {
    val (postings, props) = bm25AppendRowsAndProps(newDocs, table)
    graft.sources.Sinks.appendBucketed(postings, table, Seq("word"), numBuckets)
    newDocs.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES " +
        props.map { case (k, v) => s"'$k'='$v'" }.mkString("(", ",", ")"))
  }

  /** The batch's posting rows AND the ABSOLUTE post-append (N, Σdl)
    * property snapshot — the STAGE step shared by [[appendToBm25Index]]
    * and the exactly-once streaming append. The snapshot is computed
    * from the CURRENT stamp plus the batch's own stats scan (which sees
    * zero-token documents the posting rows can't carry) and applied as
    * an absolute value, so re-applying a committed snapshot on replay
    * is a no-op — the additive restamp was the family's silent
    * replay-corruption hazard.
    */
  private[graft] def bm25AppendRowsAndProps(newDocs: DataFrame, table: String)
  : (DataFrame, Map[String, String]) = {
    val spark = newDocs.sparkSession
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val n0 = props.getOrElse("graft.bm25.n", throw new IllegalArgumentException(
      s"index table $table has no graft.bm25.n property — not written by writeBm25Index")).toLong
    val s0 = props("graft.bm25.s").toLong
    val (postings, (n1, s1)) = bm25Postings(newDocs)
    (postings, Map("graft.bm25.n" -> (n0 + n1).toString,
      "graft.bm25.s" -> (s0 + s1).toString))
  }

  /** Recompute the (N, Σdl) stamp from the index's own posting rows
    * and rewrite it — the recovery path for a crash between
    * [[appendToBm25Index]]'s posting append and its stats restamp
    * (the stamp is DERIVABLE from the postings: N = distinct docs,
    * Σdl = sum of each doc's dl). One full index scan — a
    * maintenance op, not a probe-path cost. Returns the repaired
    * (n, s). Caveat: a ZERO-token document leaves no posting rows,
    * so it is visible to the build-time stamp but not to this
    * recomputation — run curation's empty-doc filter before
    * indexing (as the pipeline does) and the two agree exactly.
    */
  def repairBm25Stats(spark: org.apache.spark.sql.SparkSession,
                      table: String): (Long, Long) = {
    val st = spark.table(table)
      .groupBy("doc_id").agg(first("dl").as("dl"))
      .agg(count(lit(1)).as("n"), sum("dl").as("s")).head()
    val n = st.getAs[Long]("n")
    // an empty index has sum→null (unboxing would stamp s=0 silently,
    // and n=0 would make every probe divide by zero) — repair must
    // point at an index with committed postings
    require(n > 0, s"repairBm25Stats: $table has no posting rows — " +
      "wrong table, or the posting append itself never committed")
    val s = st.getAs[Long]("s")
    spark.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('graft.bm25.n'='$n','graft.bm25.s'='$s')")
    (n, s)
  }

  /** Takedown for the BM25 postings — merge-on-read tombstones
    * ([[graft.sources.IndexMaintenance]]): the deleted document's
    * postings vanish from every probe (it can never be retrieved, and
    * per-term df — a window over live rows — adjusts immediately),
    * while the stamped collection stats (N, Σdl) stay at their
    * pre-delete values until [[compactBm25Index]] — exactly Lucene's
    * deleted-docs semantics, where doc counts include deletions until
    * segments merge. Ranking among live docs drifts only by the
    * stale N/avgdl constants, never by ghost results.
    */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession,
                          table: String, ids: DataFrame): Unit =
    graft.sources.IndexMaintenance.tombstone(spark, table, ids)

  /** Fold BM25 tombstones in and RESTAMP (N, Σdl) from the surviving
    * postings ([[repairBm25Stats]] logic) — after this, scoring
    * constants reflect the post-delete collection exactly.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       table: String, numBuckets: Int = 8): Unit = {
    graft.sources.IndexMaintenance.compact(spark, table) { (live, tmp) =>
      graft.sources.Sinks.rewriteBucketed(live, tmp, Seq("word"), numBuckets)
    }
    repairBm25Stats(spark, table)
    ()
  }

  /** [[bm25TopK]] over the persisted inverted index — the at-scale
    * shape for REPEATED lexical queries: the scan path reads the
    * whole corpus per query; this reads only the posting lists of
    * the query's terms. Bucket pruning on `word IN (terms)` means
    * the scan touches ≤ q of the index's buckets; per-term df is a
    * window over `word` (satisfied by the bucket layout — NO
    * exchange); the only shuffle is the per-doc score aggregation
    * over CANDIDATES (docs containing ≥1 query term), not the
    * corpus. Corpus stats come from the table properties stamped at
    * build — scoring is bit-identical to [[bm25TopK]] by shared
    * formula ([[bm25TermFp]]), so both paths share one oracle.
    *
    * CONTRACT: the index must be current — a doc absent from the
    * index cannot be retrieved; rebuild (or extend postings +
    * restamp stats) on corpus change.
    */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                    query: String = "spark table scan", k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "empty query")
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val n = props.getOrElse("graft.bm25.n", throw new IllegalArgumentException(
      s"index table $table has no graft.bm25.n property — not written by writeBm25Index")).toLong
    val s = props("graft.bm25.s").toLong
    val avgdlX = (100L * s) / n
    val p = graft.sources.IndexMaintenance.liveRows(spark, table)
      .filter(col("word").isin(terms: _*))
      .withColumn("dfw", count(lit(1)).over(Window.partitionBy("word")))
    val aggs = first(col("dl")).as("dl") +:
      terms.zipWithIndex.flatMap { case (t, i) => Seq(
        sum(when(col("word") === t, col("tf")).otherwise(0L)).as(s"tf_$i"),
        // df is only consulted when tf > 0 (a zero tf zeroes the
        // saturation factor), so the 0 fill for absent terms is inert
        coalesce(max(when(col("word") === t, col("dfw"))), lit(0L)).as(s"df_$i"))
      }
    val cand = p.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .withColumn("n", lit(n))
      .withColumn("avgdl_x", lit(avgdlX))
    cand
      .withColumn("score_fp", terms.indices.map(i => bm25TermFp(i)).reduce(_ + _))
      .filter(col("score_fp") > 0)
      .select((col("doc_id") +: col("score_fp") +:
        terms.indices.map(i => col(s"tf_$i"))): _*)
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(k)
  }

  /** Benchmark decontamination — flag corpus documents that share any
    * word n-gram with a held-out benchmark/eval set (here the
    * deterministic doc_id % benchMod == 0 slice stands in for the
    * benchmark). The standard pre-training hygiene step: a benchmark
    * document leaking into the training corpus inflates eval scores.
    *
    * Plan shape for 100 TB: benchmark n-gram sets are SMALL (eval
    * suites are millions of grams, not billions) — distinct them and
    * broadcast, so the corpus side is one scan + broadcast semi-join
    * with NO corpus shuffle; only the matched (doc, gram) pairs (a
    * tiny fraction) reach the final distinct + per-doc count.
    * Gram STRINGS, not hashes, cross the join so any engine can
    * reproduce the result ([[HashExprs.wordNgrams]]).
    */
  def decontaminate(documents: DataFrame, n: Int = 8, benchMod: Int = 10,
                    benchCap: Long = 500): DataFrame = {
    val grams = documents.select(col("doc_id"),
      explode(HashExprs.wordNgrams(TextAnalysis.normalizeWs(col("text")), n)).as("gram"))
    // the stand-in benchmark is the mod slice CAPPED at benchCap ids:
    // a bare mod slice is a fixed FRACTION of the corpus, so the
    // broadcast side would grow with SF — the cap keeps it
    // constant-size at any scale factor, which is the actual contract
    // (a real run supplies a bounded benchmark table here)
    val isBench = col("doc_id") % benchMod === 0 && col("doc_id") < benchCap
    val bench = grams.filter(isBench).select("gram").distinct()
    grams.filter(!isBench)
      .join(broadcast(bench), "gram")
      .select("doc_id", "gram").distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated_grams"))
      .orderBy("doc_id")
  }

  /** The per-BENCHMARK leak report — [[decontaminate]]'s dual view.
    * Dropping contaminated corpus docs answers "is my training set
    * clean"; this answers the eval owner's question: WHICH benchmark
    * items leaked, how much of each (leaked grams / total grams), and
    * how widely (how many corpus docs carry them) — the table that
    * decides whether an eval split is still trustworthy or needs
    * replacing. A benchmark doc with zero leaks still reports (0s):
    * absence of a row and absence of leakage must be distinguishable.
    *
    * Scale shape: same as [[decontaminate]] — benchmark grams are
    * bounded and broadcast, the corpus side is one scan + broadcast
    * join with NO corpus shuffle; only matched (bench, gram, doc)
    * triples reach the distinct + aggregates. Integer columns only
    * (rates are the reader's division — emitting them would trade
    * engine-exactness for convenience).
    */
  def contaminationReport(documents: DataFrame, n: Int = 8, benchMod: Int = 10,
                          benchCap: Long = 500): DataFrame = {
    val grams = documents.select(col("doc_id"),
      explode(HashExprs.wordNgrams(TextAnalysis.normalizeWs(col("text")), n)).as("gram"))
    val isBench = col("doc_id") % benchMod === 0 && col("doc_id") < benchCap
    val bench = grams.filter(isBench)
      .select(col("doc_id").as("bench_id"), col("gram")).distinct()
    val hits = grams.filter(!isBench)
      .join(broadcast(bench), "gram")
      .select("bench_id", "gram", "doc_id").distinct()
      .groupBy("bench_id")
      .agg(countDistinct("gram").as("n_leaked_grams"),
        countDistinct("doc_id").as("n_corpus_docs"))
    bench.groupBy("bench_id").agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_grams"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"))
      .orderBy("bench_id")
  }

  /** The curation FUNNEL — how many documents survive each successive
    * gate of [[keepList]] (quality → +canonical → +non-benchmark →
    * +non-contaminated = kept), the one-row ops summary a curation
    * review starts from ("we dropped 40% — where?") before drilling
    * into the per-doc reasons. One aggregate over the keep-list — no
    * shape beyond what keepList already pays.
    */
  def curationFunnel(documents: DataFrame, minQuality: Double = 0.5,
                     minWords: Long = 20, n: Int = 8, benchMod: Int = 10,
                     benchCap: Long = 500): DataFrame =
    keepList(documents, minQuality, minWords, n, benchMod, benchCap)
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("is_quality"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("is_quality") && col("is_canonical"), 1L).otherwise(0L))
          .as("n_canonical"),
        sum(when(col("is_quality") && col("is_canonical") && !col("is_benchmark"), 1L)
          .otherwise(0L)).as("n_non_benchmark"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))

  /** The curation pipeline's END PRODUCT: one row per document with
    * the keep/drop decision and WHY — quality gate
    * ([[graft.functions.TextAnalysis.qualityScore]] thresholds),
    * exact-dedup canonicality (min doc_id per content fingerprint,
    * the [[Dedup.exact]] rule), benchmark membership, and n-gram
    * contamination ([[decontaminate]]). `keep` = quality ∧ canonical
    * ∧ ¬benchmark ∧ ¬contaminated. Auditable reasons matter as much
    * as the final list: corpus curation reviews ask "why did we drop
    * 12% of source X", and a bare keep list can't answer.
    *
    * Scale shape: each signal is the already-scale-shaped operator it
    * reuses (one fingerprint shuffle, scan-speed quality, broadcast
    * gram semi-join); the composition joins them on doc_id — linear,
    * co-partitioned after the first exchange.
    */
  def keepList(documents: DataFrame, minQuality: Double = 0.5,
               minWords: Long = 20, n: Int = 8, benchMod: Int = 10,
               benchCap: Long = 500): DataFrame = {
    // canonicality via a fingerprint window (one fp exchange of a
    // narrow projection; the agg-plus-join-back would shuffle twice)
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val canonical = documents
      .select(col("doc_id"), TextAnalysis.fingerprintCol(col("text")).as("fp"))
      .select(col("doc_id"),
        (col("doc_id") === min("doc_id").over(byFp)).as("is_canonical"))
    val quality = TextAnalysis.qualityScore(documents)
      .select(col("doc_id"),
        (col("quality") >= minQuality && col("word_count") >= minWords).as("is_quality"))
    val contaminated = decontaminate(documents, n, benchMod, benchCap)
      .select(col("doc_id"), lit(true).as("cont"))
    documents
      .select(col("doc_id"),
        (col("doc_id") % benchMod === 0 && col("doc_id") < benchCap).as("is_benchmark"))
      .join(quality, "doc_id")
      .join(canonical, "doc_id")
      .join(contaminated, Seq("doc_id"), "left")
      .withColumn("is_contaminated", coalesce(col("cont"), lit(false)))
      .withColumn("keep",
        col("is_quality") && col("is_canonical") &&
          !col("is_benchmark") && !col("is_contaminated"))
      .select("doc_id", "is_quality", "is_canonical", "is_benchmark",
        "is_contaminated", "keep")
      .orderBy("doc_id")
  }

  /** The SHIPPED corpus — what actually goes to the tokenizer:
    * [[keepList]]'s kept documents carrying
    * [[Dedup.stripDupSpans]]'s span-deduplicated text. Span
    * ownership/duplication is decided CORPUS-WIDE first (a dropped
    * near-duplicate still claims no spans — its canonical sibling
    * owns them), then the keep decision filters rows; doing it in
    * the other order would let dropped docs' boilerplate survive in
    * kept ones.
    *
    * ONE-PASS shape (not a composition of the standalone operators,
    * which would re-scan the corpus ~6×): the corpus is scanned
    * exactly TWICE —
    *  1. the gram scan: one posexplode to (doc_id, gpos, 64-bit gram
    *     key), where a single window over the gram key answers BOTH
    *     gram-level questions at once — span ownership/duplication
    *     (min/max doc_id, the [[Dedup.stripDupSpans]] rule) AND
    *     benchmark contamination (any-bench-doc-holds-this-gram),
    *     which the standalone [[decontaminate]] pays a separate gram
    *     scan + broadcast for. The span-dedup gram exchange is
    *     already being paid here, so contamination rides it for
    *     free. Gram rows then collapse per doc_id (removal starts +
    *     contaminated flag) in one aggregate.
    *  2. the document scan: row-local quality/benchmark flags and
    *     the fingerprint (one fp-window exchange for canonicality),
    *     joined on doc_id to the gram-derived signals, keep-filtered,
    *     and rewritten by the compiled span sweep.
    * Contamination here matches grams on the same 64-bit md5-prefix
    * keys as span ownership (the standalone operator crosses gram
    * strings); key collisions are ~|grams|²/2⁶⁴ — far below data
    * noise, and deterministic for a fixed corpus.
    */
  def curated(documents: DataFrame, minQuality: Double = 0.5,
              minWords: Long = 20, n: Int = 8, benchMod: Int = 10,
              benchCap: Long = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def isBench(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      id % benchMod === 0 && id < benchCap
    val byGram = Window.partitionBy("gk")
    val perDoc = documents
      .select(col("doc_id"),
        posexplode(HashExprs.wordNgrams(TextAnalysis.normalizeWs(col("text")), n)))
      .select(col("doc_id"), col("pos").cast("long").as("gpos"),
        substring(md5(col("col")), 1, 16).as("gk"),
        isBench(col("doc_id")).cast("int").as("is_bench"))
      .withColumn("owner", min("doc_id").over(byGram))
      .withColumn("dmax", max("doc_id").over(byGram))
      .withColumn("bench_gram", max("is_bench").over(byGram))
      .groupBy("doc_id")
      .agg(
        // non-owner occurrences of cross-doc duplicated grams — the
        // removal starts (collect_list skips the when()'s nulls)
        sort_array(collect_list(when(
          col("owner") =!= col("dmax") && col("doc_id") =!= col("owner"),
          col("gpos")))).as("starts"),
        max(when(col("bench_gram") === 1 && col("is_bench") === 0, 1)
          .otherwise(0)).as("contaminated"))
    val byFp = Window.partitionBy("fp")
    documents
      .select(col("doc_id"), col("text"),
        TextAnalysis.fingerprintCol(col("text")).as("fp"))
      .withColumn("is_canonical", col("doc_id") === min("doc_id").over(byFp))
      .join(perDoc, Seq("doc_id"), "left")
      .filter(
        TextAnalysis.qualityCol(col("text")) >= minQuality &&
          TextAnalysis.wordCountCol(col("text")) >= minWords &&
          col("is_canonical") && !isBench(col("doc_id")) &&
          coalesce(col("contaminated"), lit(0)) === 0)
      .select(col("doc_id"),
        HashExprs.removeSpans(TextAnalysis.normalizeWs(col("text")),
          coalesce(col("starts"), array().cast("array<bigint>")), n).as("r"))
      .select(col("doc_id"), col("r.kept_text").as("kept_text"),
        col("r.n_tokens").as("n_tokens"), col("r.n_removed").as("n_removed"))
      .orderBy("doc_id")
  }

  /** SEMANTIC decontamination — the embedding-space counterpart of
    * [[decontaminate]]: n-gram matching misses paraphrased benchmark
    * leakage, so flag training vectors whose embedding is
    * near-duplicate (cosine ≥ `threshold`) to any benchmark vector.
    * Benchmark membership is the same deterministic stand-in as
    * [[decontaminate]] (`vec_id % benchMod = 0`; a real run supplies
    * the benchmark embedding table). Output per flagged training
    * vector: how many benchmark items it collides with and the worst
    * (max) cosine.
    *
    * Plan shape mirrors [[Dedup.embeddingNearDup]], with the benchmark
    * side BROADCAST (eval suites are thousands-to-millions of vectors
    * — index-card data next to a 100 TB corpus): sign-projection
    * bands on both sides, train bands join the broadcast benchmark
    * bands, exact-cosine verify on the candidate ids only. The corpus
    * side is one scan + broadcast join — it never shuffles; only
    * candidates reach the verify joins and the tiny per-vector
    * aggregate.
    */
  def decontaminateSemantic(embeddings: DataFrame, dim: Int = 64,
                            benchMod: Int = 10, threshold: Double = 0.35,
                            benchCap: Long = 500): DataFrame = {
    val bits = HashExprs.signProjBits(col("embedding"), Dedup.hyperplanes(16, dim))
    val banded = embeddings.select(col("vec_id"), bits.as("bits"))
      .select(col("vec_id"),
        posexplode(array((0 until 4).map(c =>
          shiftrightunsigned(col("bits"), c * 4).bitwiseAND(lit(0xFL))): _*)))
      .toDF("vec_id", "band", "bucket")
    // capped stand-in benchmark, same contract as [[decontaminate]]:
    // the broadcast side must be constant-size at any SF
    val isBench = col("vec_id") % benchMod === 0 && col("vec_id") < benchCap
    val bench = banded.filter(isBench)
    val train = banded.filter(!isBench)
    val cand = train.as("x")
      .join(broadcast(bench.as("y")),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(vecs.select(col("vec_id").as("a"), col("embedding").as("va")), "a")
      .join(vecs.select(col("vec_id").as("b"), col("embedding").as("vb")), "b")
      .withColumn("cosine", round(HashExprs.cosineSim(col("va"), col("vb")), 4))
      .filter(col("cosine") >= threshold)
      .groupBy(col("a").as("vec_id"))
      .agg(count(lit(1)).as("n_bench_hits"), max(col("cosine")).as("max_cosine"))
      .orderBy("vec_id")
  }

  /** SOURCE/DOMAIN reputation — the per-source curation table every
    * crawl pipeline maintains (the domain-level filter stage of
    * ccnet/RefinedWeb-style curation): documents from a consistently
    * low-quality or duplicate-heavy source are dropped wholesale,
    * before any per-document scoring is trusted. Per source: doc
    * count, mean quality (4dp, exact-integer HALF_UP over the
    * 1e4-scaled per-doc quality — double summation order never
    * matters), exact-duplicate count/fraction (the [[Dedup.exact]]
    * non-canonical rule), and the block decision.
    *
    * Scale shape: quality is scan work; the duplicate flag is the one
    * fingerprint-keyed shuffle it always costs; the reputation
    * aggregate is map-side combinable on `source`, and the result is
    * |domains| rows — millions, not billions, at web scale. A skewed
    * source (one domain = half the crawl) is absorbed by partial
    * aggregation, never a single-reducer hotspot.
    */
  def sourceReputation(documents: DataFrame, minQuality: Double = 0.5,
                       maxDupFrac: Double = 0.2): DataFrame = {
    // 1e4-scaled quality as a long: the per-doc quality is already
    // rounded to 4dp, so round(q*10000) is exact on both engines
    // the exact-dup flag is min(doc_id) over a FINGERPRINT window —
    // one fp exchange of a narrow projection, not the
    // aggregate-plus-join-back that would scan and shuffle twice —
    // and quality rides along in the same projection, so documents is
    // scanned once
    import org.apache.spark.sql.expressions.Window
    val byFp = Window.partitionBy("fp")
    documents
      .select(col("doc_id"), col("source"),
        graft.functions.TextAnalysis.fingerprintCol(col("text")).as("fp"),
        graft.functions.TextAnalysis.qualityBp(col("text")).as("q4"))
      .withColumn("is_dup",
        (col("doc_id") =!= min("doc_id").over(byFp)).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("q4").as("q4sum"),
        sum("is_dup").as("n_dups"))
      // non-negative sums: the HALF_UP div identity holds (§ADVICE r3)
      .withColumn("mean_quality",
        expr("(q4sum * 2 + n_docs) div (2 * n_docs)").cast("double") / 10000)
      .withColumn("dup_frac",
        expr("(n_dups * 20000 + n_docs) div (2 * n_docs)").cast("double") / 10000)
      .withColumn("blocked",
        col("mean_quality") < minQuality || col("dup_frac") > maxDupFrac)
      .select("source", "n_docs", "mean_quality", "n_dups", "dup_frac", "blocked")
      .orderBy("source")
  }

  /** The document-level EFFECT of [[sourceReputation]]: drop every
    * document from a blocked source. The blocklist is |blocked
    * domains| rows — index-card data next to the corpus — so the
    * anti-join broadcasts and the corpus side stays a pure scan with
    * zero shuffle (the reputation pass itself already paid its one
    * fingerprint exchange).
    */
  def filterBySource(documents: DataFrame, minQuality: Double = 0.5,
                     maxDupFrac: Double = 0.2): DataFrame = {
    val blocked = sourceReputation(documents, minQuality, maxDupFrac)
      .filter(col("blocked")).select("source")
    documents.join(broadcast(blocked), Seq("source"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy("doc_id")
  }

  /** Sequence PACKING for training-batch construction: documents are
    * concatenated per shard in deterministic doc_id order and chunked
    * into fixed `budgetTokens`-token training sequences — GPT-style
    * concat-then-chunk, so a document may straddle a sequence
    * boundary. Each document reports its token offset within its
    * shard and the [seq_first, seq_last] range of training sequences
    * that contain any of it (what an attention-mask builder and an
    * epoch accountant both need).
    *
    * Scale shape: ONE window partitioned by the shard key — the
    * cumulative sum never sees a global ordering, so each shard packs
    * independently, exactly how a 1000-worker packing job shards. The
    * shard key is (lang, content-keyed md5 bucket), NOT lang alone: a
    * 5-language corpus would otherwise pack with 5-way parallelism at
    * any size, whereas the 100-bucket split keeps every window
    * partition ~1% of its language. Offsets are a pure function of
    * (shard, doc_id) order — re-partitioning or re-running never
    * moves a document, and the md5 bucket is reproducible in any
    * engine ([[Sampling.hashBucket]]).
    */
  def packSequences(documents: DataFrame, budgetTokens: Int = 512): DataFrame =
    packBy(documents,
      size(split(trim(col("text")), "\\s+")).cast("long"), budgetTokens)

  /** [[packSequences]] under a REAL tokenizer: token counts come from
    * the compiled BPE encoder with a trained merge list instead of
    * the whitespace proxy — what a training pipeline actually packs
    * by (sequence budgets are model-tokenizer tokens; whitespace
    * counts mis-size every sequence by the fertility ratio). Same
    * sharded window, same integer offset arithmetic; the encoder is
    * scan work, so the packing cost profile is unchanged.
    */
  def packSequencesBpe(documents: DataFrame, merges: Seq[(String, String)],
                       budgetTokens: Int = 512): DataFrame =
    packBy(documents,
      HashExprs.bpeEncode(TextAnalysis.normalizeWs(col("text")), merges)
        .getField("n_tokens"), budgetTokens)

  /** Packing EFFICIENCY report — the shard-utilization table a
    * training-batch builder watches: per (lang, shard), how many
    * fixed-budget sequences the pack produced and how full they are
    * (fill in integer bp via the HALF_UP identity; only the last
    * sequence of a shard can be partial, so fill → 10⁴ as shards
    * grow — a LOW fill flags a shard too small to amortize its tail,
    * i.e. the shard count needs retuning for the corpus size). Pure
    * aggregation over [[packSequences]]'s window output: one extra
    * map-side-combinable groupBy on the same (lang, shard) key the
    * pack window already partitioned by — no new exchange at scale.
    */
  def packEfficiency(documents: DataFrame, budgetTokens: Int = 512): DataFrame =
    packSequences(documents, budgetTokens)
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        (max("seq_last") + 1).as("n_seqs"))
      .withColumn("capacity", col("n_seqs") * budgetTokens)
      .withColumn("fill_bp",
        expr("(2 * total_tokens * 10000 + capacity) div (2 * capacity)"))
      .orderBy("lang", "shard")

  /** The packing window shared by the whitespace and BPE forms — one
    * definition of the offset/sequence-range arithmetic.
    */
  private def packBy(documents: DataFrame, tokenCount: org.apache.spark.sql.Column,
                     budgetTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    documents
      .select(col("doc_id"), col("lang"),
        Sampling.hashBucket(col("doc_id")).as("shard"),
        tokenCount.as("n_tokens"))
      .withColumn("token_offset", coalesce(sum("n_tokens").over(w), lit(0L)))
      // non-negative longs: div truncation == floor on both engines.
      // greatest(n_tokens, 1) keeps a zero-token doc pinned to the
      // sequence at its offset instead of underflowing seq_last
      .withColumn("seq_first", expr(s"token_offset div $budgetTokens"))
      .withColumn("seq_last",
        expr(s"(token_offset + greatest(n_tokens, 1L) - 1L) div $budgetTokens"))
      .orderBy("doc_id")
  }

  /** Sliding-window document CHUNKING — the retrieval/embedding prep
    * staple: fixed `chunkTokens`-token windows advancing by `stride`
    * (stride < chunkTokens ⇒ overlap, so a passage split across a
    * boundary still appears whole in some chunk). A chunk is emitted
    * only if it covers at least one token beyond the previous
    * chunk's end — the last chunk may be short, but a tail window
    * fully CONTAINED in its predecessor is redundant and skipped
    * (n ≤ chunkTokens ⇒ exactly one chunk); an empty document yields
    * none. Per-row explode + slice — scan work, no shuffle (the
    * output sort is presentation only); all-integer boundaries, so
    * both engines cut identical chunks.
    */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int = 32,
                     stride: Int = 24): DataFrame = {
    require(chunkTokens > 0 && stride > 0, "chunk and stride must be positive")
    require(stride <= chunkTokens, "stride beyond the chunk width would drop tokens")
    // last emitted idx: 0 if n ≤ chunk, else the smallest k covering
    // the last token = ceil((n − chunk)/stride) — integer-exact
    val lastIdx =
      expr(s"if(nw <= $chunkTokens, 0, (nw - $chunkTokens + $stride - 1) div $stride)")
    documents
      .select(col("doc_id"),
        split(TextAnalysis.normalizeWs(col("text")), " ").as("ws"))
      .withColumn("nw",
        when(col("ws") === array(lit("")), lit(0)).otherwise(size(col("ws"))))
      .filter(col("nw") > 0)
      .select(col("doc_id"), col("ws"), col("nw"),
        explode(sequence(lit(0), lastIdx)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("ws"),
          col("chunk_idx") * stride + 1, lit(chunkTokens)), " ").as("chunk_text"),
        least(lit(chunkTokens).cast("long"),
          (col("nw") - col("chunk_idx") * stride).cast("long")).as("n_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Per-document lexical RARITY — the corpus-relative quality signal
    * the per-document scores ([[graft.functions.TextAnalysis]]) can't
    * see: the fraction of token occurrences whose corpus frequency is
    * below the corpus mean — tf < ⌈total/|vocab|⌉ in pure integer
    * arithmetic, the overflow-free equivalent of the cross-multiply
    * tf·|vocab| < total (which would wrap Long at web scale: a stop
    * word's tf ~10¹² times a 10⁸-word vocabulary exceeds 2⁶³ — the
    * most common words would come back flagged RARE). High rare_bp flags
    * OOV-heavy noise (mojibake, id strings, boilerplate soup) the
    * way a unigram-LM surprisal filter would, without the
    * cross-engine drift a log-probability would introduce.
    *
    * Scale shape (the tfidf contract): per-doc tf is one
    * map-side-combinable (doc, word) aggregate; corpus tf is a
    * window over the word key of that aggregated table (≪ corpus
    * tokens); the corpus-wide (total, |vocab|) pair is a one-row
    * broadcast. Nothing corpus-proportional is ever collected or
    * broadcast.
    */
  def rarityScore(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = documents
      .select(col("doc_id"),
        explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("cnt"))
    val withTf = perDoc.withColumn("tf", sum("cnt").over(Window.partitionBy("word")))
    // mean_ceil computed ONCE in the one-row aggregate (mirroring the
    // oracle's st CTE), not per (doc, word) row
    val stats = perDoc.groupBy("word").agg(sum("cnt").as("tf"))
      .agg(expr("(sum(tf) + count(1) - 1) div count(1)").as("mean_ceil"))
    withTf.crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        sum(when(col("tf") < col("mean_ceil"), col("cnt"))
          .otherwise(lit(0L))).as("n_rare"))
      .withColumn("rare_bp", expr("(10000 * n_rare) div n_tokens"))
      .orderBy("doc_id")
  }

  /** CURRICULUM phase assignment — order the corpus into quality
    * tertiles (easy/high-quality first is the standard curriculum
    * recipe): phase 1 = top third by the shared quality composite
    * ([[graft.functions.TextAnalysis.qualityCol]]), phase 2 = middle,
    * phase 3 = rest. Thresholds use TIE-SHARING semantics: documents
    * equal to a boundary score all take the earlier phase, so the
    * assignment is a pure function of the score (no positional
    * tie-break, identical in any engine; phase sizes are ⌈N/3⌉ up to
    * ties).
    *
    * Scale shape: a global quantile normally means a global sort —
    * instead the 4dp composite is mapped to an INTEGER basis-point
    * score (round(q·10⁴) — exact, the composite is already
    * 4dp-rounded), whose BOUNDED domain (≤ 10001 distinct values)
    * makes the score HISTOGRAM a constant-size table at any corpus
    * size. Tertile boundaries b1/b2 fall out of one cumulative window
    * over that histogram (single partition, but ≤ 10001 rows by
    * construction — the [[rarityScore]] bounded-reduce contract) and
    * broadcast back; the corpus itself is scored and phased in one
    * scan-speed pass.
    */
  def curriculumOrder(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = documents.select(col("doc_id"),
      TextAnalysis.qualityBp(col("text")).as("q_bp"))
    val hist = scored.groupBy("q_bp").agg(count(lit(1)).as("cnt"))
    val tot = hist.agg(sum("cnt").as("total"))
    val wDesc = Window.orderBy(col("q_bp").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val th = hist.crossJoin(broadcast(tot))
      .withColumn("cum", sum("cnt").over(wDesc))
      .agg(
        // b_k = the k-th tertile boundary: the largest score whose
        // ≥-score cumulative count reaches ⌈kN/3⌉ — exactly the k·N/3-th
        // largest document's score, ties collapsed
        max(when(col("cum") >= expr("(total + 2) div 3"), col("q_bp"))).as("b1"),
        max(when(col("cum") >= expr("(2 * total + 2) div 3"), col("q_bp"))).as("b2"))
    scored.crossJoin(broadcast(th))
      .withColumn("phase",
        when(col("q_bp") >= col("b1"), lit(1L))
          .when(col("q_bp") >= col("b2"), lit(2L))
          .otherwise(lit(3L)))
      .select(col("doc_id"), col("q_bp"), col("phase"))
      .orderBy("doc_id")
  }

  /** Per-document unigram (word-distribution) entropy — the diversity
    * signal behind repetition filtering: H = log2(n) − (Σ c·log2 c)/n
    * over the document's word counts. One (doc, word) aggregate — the
    * same shuffle shape as [[rarityScore]].
    *
    * Float determinism: a double SUM of log terms is merge-order-
    * dependent, so each term is rounded to 6dp FIRST and summed as an
    * exact DECIMAL — the sum of rounded terms is order-independent and
    * engine-identical; only then does one double expression (log2(n),
    * one division, one subtraction, final 4dp round) run on both
    * engines' identical operands. The same trick carries every
    * log-domain aggregate in this file ([[docLogprob]]).
    */
  def docEntropy(documents: DataFrame): DataFrame = {
    val perDoc = documents
      .select(col("doc_id"),
        explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("cnt"))
    perDoc.groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(round(col("cnt").cast("double") * log2(col("cnt").cast("double")), 6)
          .cast("decimal(28,6)")).as("s_clog"))
      .select(col("doc_id"), col("n_tokens"),
        round(log2(col("n_tokens").cast("double")) -
          col("s_clog").cast("double") / col("n_tokens"), 4).as("entropy"))
      .orderBy("doc_id")
  }

  /** Per-document average unigram log-probability — the model-free
    * perplexity proxy (a unigram LM scored on its own corpus; the
    * kenlm-filter analog every web-scale pipeline runs): score_d =
    * (Σ_w c_{d,w} · ln p_w)/n_d with p_w = tf_w / total from the WHOLE
    * corpus. Shapes: one (doc, word) aggregate, one corpus vocab
    * aggregate, an equi-join on word (the vocab side is the small one
    * — broadcastable at real scale), one one-row total broadcast.
    * Rounded-term decimal summation as in [[docEntropy]]: ln p_w is
    * rounded to 6dp per WORD TYPE, the per-doc weighted sum
    * Σ c·L_w is exact decimal (c integer), and one final double
    * division + 4dp round.
    */
  def docLogprob(documents: DataFrame): DataFrame = {
    val perDoc = documents
      .select(col("doc_id"),
        explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("cnt"))
    val vocab = perDoc.groupBy("word").agg(sum(col("cnt")).as("tf"))
    val total = vocab.agg(sum(col("tf")).as("total"))
    val scored = vocab.crossJoin(broadcast(total))
      .select(col("word"),
        round(log(col("tf").cast("double") / col("total")), 6)
          .cast("decimal(18,6)").as("lp"))
    perDoc.join(scored, "word")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("lp")).as("s_lp"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s_lp").cast("double") / col("n_tokens"), 4).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** [[docLogprob]] with a TRAIN/APPLY split — what a production LM
    * filter actually does (train the scoring LM on one corpus slice,
    * score another), where self-scoring ([[docLogprob]]) leaks every
    * document into its own model: the add-one-smoothed unigram LM is
    * fit on the id-split train half, held-out docs score under it,
    * and UNSEEN words take the smoothing floor 1/(N+V+1) instead of
    * breaking the sum — p(w) = (tf_train(w)+1)/(N_train+V+1), V = the
    * train vocabulary size. Same shapes as [[docLogprob]] plus one
    * extra one-row stats broadcast (the [[dsirLogratio]] contract);
    * 6dp-rounded ln terms, exact decimal sums, signed-zero-normalized
    * emit.
    */
  def docLogprobHeldout(documents: DataFrame, trainMod: Long = 2): DataFrame = {
    val words = documents
      .select(col("doc_id"),
        explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    val vocab = words.filter(col("doc_id") % trainMod === 0)
      .groupBy("word").agg(count(lit(1)).as("tf"))
    val stats = vocab.agg(count(lit(1)).as("v"), sum(col("tf")).as("n"))
    val scored = vocab.crossJoin(broadcast(stats))
      .select(col("word"),
        round(log((col("tf") + 1).cast("double") /
          (col("n") + col("v") + 1).cast("double")), 6)
          .cast("decimal(18,6)").as("lp"))
    words.filter(col("doc_id") % trainMod =!= 0)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .join(scored, Seq("word"), "left")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("cnt"),
        coalesce(col("lp"),
          round(log(lit(1.0) / (col("n") + col("v") + 1).cast("double")), 6)
            .cast("decimal(18,6)")).as("lp"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"), sum(col("cnt") * col("lp")).as("s_lp"))
      .select(col("doc_id"), col("n_tokens"),
        (round(col("s_lp").cast("double") / col("n_tokens"), 4) + lit(0.0))
          .as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Per-source KL divergence from the corpus unigram distribution —
    * the domain-similarity number behind mixing decisions (a source
    * whose KL spikes is off-distribution: spam, another language, a
    * format break). KL(P_s ‖ P_corpus) = Σ (c/n_s)·ln(c·N / (n_s·tf))
    * computed as Σ c·round₆(ln·) / n_s: the log argument's numerator
    * and denominator are EXACT decimal integer products cast to double
    * (correctly rounded at any magnitude — the c·N product overflows
    * long at web scale but not decimal(38)), each log term rounds to
    * 6dp decimal before the exact sum (the [[docLogprob]] policy — a
    * float log-sum is merge-order-dependent), and the single final
    * division is the only unrounded float op. Shapes: one (source,
    * word) aggregate, a word-keyed join against the |vocab| table,
    * source totals broadcast.
    */
  def sourceKl(documents: DataFrame): DataFrame = {
    val words = documents
      .select(col("source"),
        explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    val perSource = words.groupBy("source", "word").agg(count(lit(1)).as("c"))
    val vocab = perSource.groupBy("word").agg(sum(col("c")).as("tf"))
    val totals = perSource.groupBy("source").agg(sum(col("c")).as("n_s"))
    val bigN = vocab.agg(sum(col("tf")).as("big_n"))
    val lnArg = (col("c").cast("decimal(38,0)") * col("big_n")).cast("double") /
      (col("n_s").cast("decimal(38,0)") * col("tf")).cast("double")
    perSource.join(vocab, "word")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(bigN))
      .withColumn("term",
        col("c") * round(log(lnArg), 6).cast("decimal(18,6)"))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_tokens"), sum(col("term")).as("s_term"))
      .select(col("source"), col("n_tokens"),
        round(col("s_term").cast("double") / col("n_tokens"), 6).as("kl"))
      .orderBy("source")
  }

  /** Zipf power-law fit of the vocabulary: OLS slope of ln(tf) on
    * ln(rank) over the top-k terms — natural language sits near −1,
    * and a corpus that doesn't is template spam, token soup, or a
    * parser bug (the one-number "is this real text" screen). The
    * ranking is a TakeOrdered top-k (bounded codebook artifact — the
    * [[vocabCoverage]] contract, no global vocab sort); both logs
    * round to 6dp decimal, the five OLS moments accumulate as EXACT
    * decimal sums over those ≤k rows, and slope/intercept are the two
    * final float divisions ([[Analytics.priceQtySlope]]'s shape).
    * Constant one-row output.
    */
  def zipfSlope(documents: DataFrame, k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents
      .select(explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("tf"))
    val top = counts.orderBy(col("tf").desc, col("word")).limit(k)
    // single-partition window over ≤k rows — bounded by construction
    val w = Window.orderBy(col("tf").desc, col("word"))
    val x = round(log(col("rank").cast("double")), 6).cast("decimal(18,6)")
    val y = round(log(col("tf").cast("double")), 6).cast("decimal(18,6)")
    top
      .withColumn("rank", row_number().over(w))
      .select(x.as("x"), y.as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,12)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).as("sxx"))
      .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("decimal(38,12)"))
      .withColumn("den", (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("decimal(38,12)"))
      .withColumn("slope",
        round(col("num").cast("double") / col("den").cast("double"), 6))
      .select(col("n").as("n_terms"), col("slope"),
        round((col("sy").cast("double") -
          col("slope") * col("sx").cast("double")) / col("n").cast("double"), 6)
          .as("intercept"))
  }

  /** DSIR importance log-ratios (Xie et al. 2023): per document, the
    * average per-token log p_target(w)/p_raw(w) under add-one-smoothed
    * unigram LMs — the score importance resampling thins by when
    * steering a raw crawl toward a target domain (here: the corpus'
    * own `targetLang` slice stands in for the target). One log
    * argument per WORD — (tf_t+1)·(N_r+V) over (N_t+V)·(tf_r+1) as
    * exact decimal products cast double — rounded to 6dp decimal
    * before the exact per-doc sum, so both engines agree bit-for-bit
    * ([[docLogprob]]'s policy). Shapes: the vocab table (≪ corpus)
    * carries both LMs, the smoothing stats are a one-row broadcast,
    * and the per-doc aggregate is word-keyed — nothing
    * corpus-proportional on the driver.
    */
  def dsirLogratio(documents: DataFrame, targetLang: String = "en"): DataFrame = {
    val perDoc = documents
      .select(col("doc_id"),
        explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    val raw = perDoc.groupBy("word").agg(sum(col("cnt")).as("tf_r"))
    val target = documents.filter(col("lang") === targetLang)
      .select(explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("tf_t"))
    val vocab = raw.join(target, Seq("word"), "left")
      .withColumn("tf_t", coalesce(col("tf_t"), lit(0L)))
    val stats = vocab.agg(count(lit(1)).as("v"),
      sum(col("tf_r")).as("n_r"), sum(col("tf_t")).as("n_t"))
    val lnArg =
      ((col("tf_t") + 1).cast("decimal(38,0)") * (col("n_r") + col("v"))).cast("double") /
      ((col("n_t") + col("v")).cast("decimal(38,0)") * (col("tf_r") + 1)).cast("double")
    val scored = vocab.crossJoin(broadcast(stats))
      .select(col("word"), round(log(lnArg), 6).cast("decimal(18,6)").as("lr"))
    perDoc.join(scored, "word")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("lr")).as("s_lr"))
      .select(col("doc_id"), col("n_tokens"),
        (round(col("s_lr").cast("double") / col("n_tokens"), 4) + lit(0.0))
          .as("log_ratio"))
      .orderBy("doc_id")
  }

  /** DSIR importance resampling REALIZED — the deterministic thinning
    * the [[dsirLogratio]] scores imply: each doc's keep probability is
    * min(1, exp(log_ratio)) (target-like docs always kept, off-target
    * docs kept in proportion to their importance weight), decided by
    * the id-keyed md5 bucket against the integer keep threshold
    * keep_bp = min(10⁴, round(exp(lr)·10⁴)) — the
    * [[graft.operators.Dedup.weightedSample]] convention, so reruns
    * and engines agree row-for-row. exp() is applied to the ALREADY
    * 4dp-rounded score and immediately re-rounded to integer bp (the
    * same cross-engine-libm containment the 6dp-ln policy uses).
    * Scan-shaped on top of the score table: the keep decision is a
    * per-row predicate, no extra shuffle.
    */
  def dsirResample(documents: DataFrame, targetLang: String = "en"): DataFrame =
    dsirLogratio(documents, targetLang)
      .withColumn("keep_bp",
        least(lit(10000L), round(exp(col("log_ratio")) * 10000).cast("long")))
      .withColumn("bucket", Sampling.hashBucket(col("doc_id")))
      .select(col("doc_id"), col("n_tokens"), col("log_ratio"), col("keep_bp"),
        (col("bucket") * 100 < col("keep_bp")).as("kept"))
      .orderBy("doc_id")

  /** Per-document n-gram NOVELTY — the corpus-growth diagnostic: what
    * share of each document's word n-grams has never appeared in any
    * EARLIER document (doc_id as the ingest-order proxy). A healthy
    * crawl's novelty decays slowly; a cliff means the source started
    * re-serving content, and near-zero novelty marks template spam —
    * the curve that says when collecting more data stopped adding
    * information. Shapes: the distinct (doc, gram) table shuffles
    * ONCE on the gram key, first-occurrence is a window min over that
    * key (the dup_spans contract — no self-joins, nothing broadcast),
    * and the share is the HALF_UP bp identity. Docs shorter than n
    * words carry no grams and are absent by construction.
    */
  def noveltyCurve(documents: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = documents.select(col("doc_id"),
      explode(HashExprs.wordNgrams(TextAnalysis.normalizeWs(col("text")), n))
        .as("gram"))
      .distinct()
    grams
      .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy("gram")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_new"))
      .select(col("doc_id"), col("n_grams"), col("n_new"),
        expr("(2 * n_new * 10000 + n_grams) div (2 * n_grams)").as("novelty_bp"))
      .orderBy("doc_id")
  }

  /** Trending terms: vocabulary whose frequency GREW most from the
    * older half of the corpus to the newer half (doc_id as the
    * ingest-order proxy; a real deployment keys on ingest date) —
    * the drift view at TERM granularity, where [[graft.operators
    * .TextPipeline]]'s corpus_drift sees only whole-document
    * fingerprints. Add-one smoothing keeps new-only terms rankable;
    * growth is the all-integer bp identity over smoothed counts, and
    * the top-k is a TakeOrdered. One word aggregate carries both
    * halves' counts (no second scan).
    */
  def trendingTerms(documents: DataFrame, k: Int = 25,
                    minNew: Long = 5L): DataFrame = {
    // integer division: float /2 then cast would round-vs-truncate
    // differently across engines on odd maxima
    val mid = broadcast(documents.agg(expr("max(doc_id) div 2").as("mid")))
    documents.crossJoin(mid)
      .select((col("doc_id") >= col("mid")).as("is_new"),
        explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(sum(when(col("is_new"), 1L).otherwise(0L)).as("tf_new"),
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("tf_old"))
      .filter(col("tf_new") >= minNew)
      .withColumn("growth_bp",
        expr("((tf_new + 1) * 10000 * 2 + (tf_old + 1)) div (2 * (tf_old + 1))"))
      .orderBy(col("growth_bp").desc, col("word"))
      .limit(k)
  }

  /** Per-language perplexity-filter thresholds: the nearest-rank
    * percentile cut points of [[docLogprob]] per language — the table
    * a corpus-quality gate reads instead of one global constant (a
    * threshold tuned on the majority language silently guts minority
    * languages whose score distribution sits elsewhere). Nearest-rank
    * on (score, doc_id) ties is engine-exact; the percentile window
    * partitions BY LANGUAGE, and the output is |langs| × |ps| rows.
    */
  def logprobCutoffs(documents: DataFrame,
                     ps: Seq[Int] = Seq(10, 25, 50)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100), "percentiles in [1,100]")
    val scored = docLogprob(documents)
      .join(documents.select(col("doc_id"), col("lang")), "doc_id")
    val byLang = Window.partitionBy("lang")
    val w = byLang.orderBy(col("avg_logprob"), col("doc_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byLang))
      .select(col("lang"), col("avg_logprob"), col("rn"), col("n"),
        explode(array(ps.map(p => lit(p)): _*)).as("p"))
      .filter(col("rn") === expr("(p * n + 99) div 100"))
      .select(col("lang"), col("p").cast("long").as("p"),
        col("avg_logprob").as("cutoff"), col("n").as("n_docs"))
      .orderBy("lang", "p")
  }

  /** CCNet-style quality buckets: every document assigned head /
    * middle / tail by its LANGUAGE'S OWN logprob terciles (Wenzek et
    * al. 2020 §4.3 — per-language perplexity thirds, so a dominant
    * language's fluency scale never classifies a minority language's
    * docs). Higher avg corpus-unigram logprob = more fluent = head.
    * The tercile is pure integer rank arithmetic ((rn−1)·3 div n over
    * the (avg_logprob, doc_id)-ordered per-lang rank), so boundary
    * docs land identically in both engines — no float quantile
    * anywhere. One lang-keyed window over the already-aggregated
    * per-doc score table (≪ corpus tokens); the [[logprobCutoffs]]
    * threshold view reads the same ordering.
    */
  def ccnetBuckets(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy("lang")
    val w = byLang.orderBy(col("avg_logprob"), col("doc_id"))
    docLogprob(documents)
      .join(documents.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byLang))
      .withColumn("tercile", expr("((rn - 1) * 3) div n"))
      .select(col("doc_id"), col("lang"), col("avg_logprob"),
        when(col("tercile") === 0, lit("tail"))
          .when(col("tercile") === 1, lit("middle"))
          .otherwise(lit("head")).as("bucket"))
      .orderBy("doc_id")
  }

  /** Vocabulary coverage curve: what fraction of corpus TOKEN MASS the
    * top-k vocabulary covers, at each candidate k — the table that
    * sizes a tokenizer's vocab (coverage plateaus ⇒ k is big enough;
    * the complement of [[oovRate]]'s fixed-size view). The ranking
    * never globally sorts the vocabulary: TakeOrdered keeps only the
    * max(ks) top terms (a bounded artifact — the codebook contract),
    * the cumulative window runs over those ≤max(ks) rows, and the
    * corpus total is a one-row broadcast. Coverage in integer basis
    * points.
    */
  def vocabCoverage(documents: DataFrame,
                    ks: Seq[Int] = Seq(5, 10, 25, 50)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents
      .select(explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("tf"))
    val total = broadcast(counts.agg(sum(col("tf")).as("total_tokens")))
    val top = counts.orderBy(col("tf").desc, col("word")).limit(ks.max)
    val w = Window.orderBy(col("tf").desc, col("word"))
    top
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_tf", sum("tf").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rank").isin(ks.map(Integer.valueOf): _*))
      .crossJoin(total)
      .select(col("rank").as("k"), col("cum_tf").as("covered_tokens"),
        col("total_tokens"),
        expr("(cum_tf * 10000 * 2 + total_tokens) div (2 * total_tokens)")
          .as("coverage_bp"))
      .orderBy("k")
  }

  /** Bigram-LM document scoring — the KenLM-filter analog one order up
    * from [[docLogprob]]: per-doc average conditional bigram
    * log-probability log c(w₁w₂)/c(w₁·) under the corpus' own bigram
    * counts. Context totals c(w₁·) come FROM the bigram table (so the
    * conditional distribution sums to 1 over observed continuations),
    * making the score a proper cross-entropy proxy: low = the doc's
    * word transitions are unusual for the corpus (gibberish, shuffled
    * text, wrong domain) even when every individual word is common —
    * exactly what unigram scoring can't see. Same engine-exactness
    * rule as docLogprob: log rounded to 6dp decimal per bigram, so
    * summation order can't drift the result.
    *
    * Scale shape: one (doc, bigram) aggregate (the corpus token
    * stream's only shuffle), corpus bigram/context counts derived from
    * it by re-aggregation, and a word-keyed join back — no
    * corpus-sized driver state, nothing quadratic.
    */
  def docLogprobBigram(documents: DataFrame): DataFrame = {
    // bigrams as "w1 w2" STRINGS from one compiled pass (word_ngrams
    // at n = 2): the former transform(sequence(...)) struct lambda is
    // CodegenFallback — one interpreted invocation + row allocation
    // per bigram occurrence (measured 0.83 → 0.48 s for the gram stage
    // at sf0.1). Words are space-free after normalizeWs, so the joined
    // string encodes the pair uniquely: grouping/joining on `g` IS
    // grouping/joining on (w1, w2), and the context word is
    // substring_index(g, ' ', 1) — evaluated per DISTINCT bigram, not
    // per occurrence. Same counts, same lp, same output.
    val grams = documents
      .select(col("doc_id"), explode(HashExprs.wordNgrams(
        TextAnalysis.normalizeWs(col("text")), 2)).as("g"))
      .groupBy("doc_id", "g")
      .agg(count(lit(1)).as("cnt"))
    // NOTE (r17): checkpointing this gram table for its two consumers
    // was measured SLOWER (1.18 → 1.40 s at sf0.1) — AQE already
    // stage-reuses the gram exchange, so the checkpoint only
    // added a materialization job. Left un-checkpointed.
    val bigrams = grams.groupBy("g").agg(sum(col("cnt")).as("c12"))
    val contexts = bigrams
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val scored = bigrams
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(contexts, "w1")
      .select(col("g"),
        round(log(col("c12").cast("double") / col("c1")), 6)
          .cast("decimal(18,6)").as("lp"))
    grams.join(scored, Seq("g"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("lp")).as("s_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s_lp").cast("double") / col("n_bigrams"), 4).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Pairwise vocabulary Jaccard between sources — the domain-
    * similarity matrix a mixing recipe reads before merging or
    * re-weighting crawl sources (two near-identical vocabularies →
    * candidates for a shared dedup/mixing bucket). One distinct
    * (source, word) pass, then the pair counts come from a word-keyed
    * self-join: the shuffle key is the WORD, so the work is
    * Σ_word |sources(word)|² — bounded by the source-domain size
    * squared per word, never by corpus volume. Per-source vocabulary
    * sizes broadcast back; Jaccard all-integer 4dp.
    */
  def sourceVocabJaccard(documents: DataFrame): DataFrame = {
    val sw = documents
      .select(col("source"),
        explode(split(TextAnalysis.normalizeWs(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
      .distinct()
    val pairs = sw.select(col("source").as("s1"), col("word"))
      .join(sw.select(col("source").as("s2"), col("word")), "word")
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2")
      .agg(count(lit(1)).as("n_both"))
    val sizes = sw.groupBy(col("source")).agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n_s1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n_s2"))), "s2")
      .withColumn("n_either", col("n_s1") + col("n_s2") - col("n_both"))
      .select(col("s1"), col("s2"), col("n_both"), col("n_s1"), col("n_s2"),
        (expr("(n_both * 10000 * 2 + n_either) div (2 * n_either)")
          .cast("double") / 10000.0).as("jaccard"))
      .orderBy("s1", "s2")
  }
}
