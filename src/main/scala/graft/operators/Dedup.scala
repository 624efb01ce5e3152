package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.plans.HashExprs

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Design for scale: every near-dup variant is
  * shingle/signature (per-row compiled sketch expression, see
  * [[graft.plans.HashExprs]]) → band/bucket explode → shuffle ON THE
  * BUCKET KEY ONLY → pair join within buckets → exact verify on
  * candidates. The candidate generation never compares all pairs — the
  * only O(n²) work is inside a bucket, and bucket sizes are bounded by
  * the band width. No UDFs, no driver-side state.
  */
object Dedup {

  /** Exact dedup by normalized-content hash: one shuffle on the
    * fingerprint. Output: one row per distinct content with the
    * canonical (min) doc and the duplicate count.
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(TextAnalysis.fingerprintCol(col("text")).as("fp"))
      .agg(min("doc_id").as("canonical_doc_id"), count(lit(1)).as("dup_count"))
      .orderBy("canonical_doc_id")

  /** Whitespace/case normalization shared by all shingle variants
    * (same definition as the exact-dedup fingerprint).
    */
  private def norm(c: Column): Column = TextAnalysis.normalizeWs(c)

  /** Cross-document duplicated n-gram SPANS — the exact-substring
    * signal behind "dedup the repeated passages, not just the
    * near-identical documents": boilerplate headers, license blurbs,
    * and templated passages repeat across documents that are NOT
    * near-duplicates of each other, and span-level dedup of those
    * measurably improves trained-model quality. Per document: total
    * n-gram positions, how many of them are covered by an n-gram that
    * also occurs in ANOTHER document, and the duplicated fraction
    * (4dp, exact-integer HALF_UP).
    *
    * Scale shape (the distributed alternative to a suffix array): one
    * corpus scan explodes word n-grams, projected immediately to
    * (doc_id, 64-bit md5-prefix gram key) so the shuffle carries 16
    * bytes of key, not ~50-byte gram strings — and that gram table is
    * shuffled exactly ONCE (spec-asserted): "appears in ≥2 distinct
    * docs" is `min(doc_id) ≠ max(doc_id)` computed as a WINDOW over
    * the gram key, so there is no aggregate-then-join-back (whose two
    * gram branches prune to different projections and can't share an
    * exchange) and nothing to broadcast. count(distinct doc) would
    * additionally plan a second (key, doc) exchange of the whole
    * gram table. Per-doc totals come from the scan side
    * arithmetically, so no second corpus pass.
    */
  def dupSpans(documents: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGram = Window.partitionBy("gk")
    val hits = documents
      .select(col("doc_id"),
        explode(HashExprs.wordNgrams(norm(col("text")), n)).as("gram"))
      .select(col("doc_id"), substring(md5(col("gram")), 1, 16).as("gk"))
      .withColumn("d0", min("doc_id").over(byGram))
      .withColumn("d1", max("doc_id").over(byGram))
      .filter(col("d0") =!= col("d1"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_positions"))
    documents
      .select(col("doc_id"),
        greatest(size(split(norm(col("text")), " ")) - (n - 1), lit(0))
          .cast("long").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_dup_positions", coalesce(col("n_dup_positions"), lit(0L)))
      .withColumn("dup_frac",
        when(col("n_grams") > 0,
          expr("(n_dup_positions * 20000 + n_grams) div (2 * n_grams)")
            .cast("double") / 10000)
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  /** The REWRITE side of [[dupSpans]] — Lee-et-al-style exact
    * substring dedup as a transform, not just a flag: every token
    * covered by a cross-document duplicated n-gram is dropped, EXCEPT
    * in the gram's canonical owner (the min doc_id containing it), so
    * exactly one copy of each duplicated passage survives the corpus.
    * Output per document: the rewritten text plus token/removal
    * counts (every doc appears; untouched docs keep their normalized
    * text verbatim).
    *
    * Scale shape: same ONE-shuffle gram table as [[dupSpans]] (64-bit
    * md5-prefix keys; owner = min(doc_id) and the min≠max duplication
    * test as a window over the gram key, so no aggregate-then-join
    * and nothing broadcast); the non-canonical occurrences collapse
    * to a per-doc SORTED start array (rows ≈ duplicated occurrences
    * only), and the rewrite itself is one compiled pass per document
    * ([[HashExprs.removeSpans]]) — overlapping spans merge in a
    * single token/span sweep, with no corpus-token explode and no
    * per-token boxed lambda.
    */
  def stripDupSpans(documents: DataFrame, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGram = Window.partitionBy("gk")
    val removedStarts = documents
      .select(col("doc_id"),
        posexplode(HashExprs.wordNgrams(norm(col("text")), n)))
      .select(col("doc_id"), col("pos").cast("long").as("gpos"),
        substring(md5(col("col")), 1, 16).as("gk"))
      .withColumn("owner", min("doc_id").over(byGram))
      .withColumn("dmax", max("doc_id").over(byGram))
      .filter(col("owner") =!= col("dmax") && col("doc_id") =!= col("owner"))
      .groupBy("doc_id").agg(sort_array(collect_list(col("gpos"))).as("starts"))
    documents
      .join(removedStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        HashExprs.removeSpans(norm(col("text")),
          coalesce(col("starts"), array().cast("array<bigint>")), n).as("r"))
      .select(col("doc_id"), col("r.kept_text").as("kept_text"),
        col("r.n_tokens").as("n_tokens"), col("r.n_removed").as("n_removed"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------

  /** Candidate pairs via LSH banding over MinHash signatures, verified
    * with exact Jaccard on the shingle sets. `bands` × rows-per-band =
    * `numPerm`.
    *
    * Plan shape: map (shingle → compiled minhash sig) → explode bands
    * (bands× fanout on a narrow (doc_id, band_hash) projection only) →
    * shuffle on (band, band_hash) via the self-join → distinct pairs →
    * join back to shingle sets → verify. At 100 TB the signature table
    * is ~1% of corpus size and the band shuffle carries 16 longs per
    * doc; the corpus itself is scanned once.
    */
  /** The (doc_id, band, band_hash) LSH band table — the dedup INDEX.
    * Narrow (two longs + an int per doc per band); at 100 TB this is
    * the artifact to persist at ingest (see [[writeMinhashIndex]]) so
    * every subsequent dedup run skips the corpus scan and the band
    * shuffle entirely.
    */
  private def bandTable(documents: DataFrame, k: Int, word: Boolean,
                        numPerm: Int, bands: Int): DataFrame = {
    require(numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm) — trailing signature lanes would be silently ignored")
    val rowsPerBand = numPerm / bands
    val sigs = documents.select(col("doc_id"),
      HashExprs.minhashText(norm(col("text")), k, numPerm, word).as("sig"))
    sigs.select(
      col("doc_id"),
      posexplode(array((0 until bands).map(j =>
        xxhash64(slice(col("sig"), j * rowsPerBand + 1, rowsPerBand))): _*)))
      .toDF("doc_id", "band", "band_hash")
  }

  /** Candidate (a, b) id pairs from a band table: self-join on the
    * bucket key, a < b. NOT distinct — a pair colliding in several
    * bands appears once per collision; callers dedupe. Public to the
    * package so the plan-shape spec can assert the persisted-index
    * join shuffles nothing.
    */
  private[graft] def bucketCandidates(banded: DataFrame): DataFrame =
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))

  /** Exact-Jaccard verification of candidate pairs: join the (narrow)
    * normalized text back for candidates only; exact Jaccard is one
    * compiled pass per pair. Emitted at full double precision:
    * intersection/union division of the same two ints is bit-identical
    * in any IEEE engine, whereas a 4dp round can land on an exact
    * 5th-decimal half (e.g. 1/32) where rounding modes diverge across
    * engines.
    *
    * NOTE (r17, measured rejection): restricting the per-side text
    * joins to the candidate ids (checkpoint cand → broadcast the id
    * set → one restricted corpus pass, checkpointed) removes one of
    * the two streamed corpus scans — and was measured SLOWER across
    * the whole LSH family at sf0.1 (dedup_minhash_lsh 0.80→0.92,
    * pair_sim_histogram 0.72→1.80, ngram_jaccard 0.41→0.95,
    * dedup_weights 1.29→4.59 min): the two corpus scans are streamed
    * sides of broadcast joins INSIDE one AQE query (pipelined, no
    * block writes), while the restriction serializes three jobs and
    * writes checkpoint blocks whose cleanup taxes later keys. At 100
    * TB the per-side scans dominate instead — that deployment reads
    * the PERSISTED index twins, whose verify input is already the
    * restricted candidate set.
    */
  private def verifyJaccard(cand: DataFrame, base: DataFrame, k: Int,
                            word: Boolean, threshold: Double): DataFrame =
    cand
      .join(base.select(col("doc_id").as("a"), col("nt").as("nt_a")), "a")
      .join(base.select(col("doc_id").as("b"), col("nt").as("nt_b")), "b")
      .withColumn("jaccard", HashExprs.jaccardText(col("nt_a"), col("nt_b"), k, word))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
      .orderBy("a", "b")

  private def lshPairs(documents: DataFrame, k: Int, word: Boolean,
                       numPerm: Int, bands: Int, threshold: Double): DataFrame = {
    // NOTE (r17, measured rejection): fanning the one-row-group corpus
    // scan out to the session width below the signature projections
    // (repartition(width, doc_id), guarded on scan parallelism) made
    // the ISOLATED signature stage ~2x faster under a noop sink
    // (0.49 → 0.31 s) and EVERY full operator SLOWER in a same-JVM
    // interleaved A/B (minhash_lsh 0.81 → 0.85 med, containment
    // 0.85 → 1.15, simhash 0.53 → 0.87, source_kl 0.39 → 1.28,
    // curated 0.70 → 1.14): each consumer branch re-reads the added
    // exchange with width reduce tasks behind an extra AQE stage
    // barrier, which costs more than the parallelized compute saves on
    // a megabyte-scale input — and at real scale the scan is already
    // wide. Single-task scan compute is the accepted local floor.
    val base = documents.select(col("doc_id"), norm(col("text")).as("nt"))
    // repartition on the join keys BEFORE the candidate self-join: the
    // band table is narrow-derived from the scan, so without this the
    // join's parallelism is the input FILE COUNT whenever the planner
    // broadcasts one side (a 10x corpus in one parquet file ran the
    // whole quadratic candidate join in a single task — r13 audit).
    // At scale the exchange is required anyway (nothing broadcasts);
    // on small corpora it costs one narrow-row shuffle.
    val cand = bucketCandidates(
      bandTable(documents, k, word, numPerm, bands)
        .repartition(col("band"), col("band_hash"))).distinct()
    verifyJaccard(cand, base, k, word, threshold)
  }

  /** Persist the minhash band index bucketed by (band, band_hash): the
    * "signatures computed at ingest" half of the dedup pipeline. The
    * bucket layout IS the LSH shuffle, paid once at write time — every
    * later [[minhashLshIndexed]] self-join reads co-bucketed files and
    * plans ZERO exchanges (spec-asserted), so re-running dedup after an
    * incremental ingest touches the corpus text only for the candidate
    * pairs' verification.
    */
  def writeMinhashIndex(documents: DataFrame, table: String, numBuckets: Int = 8,
                        k: Int = 5, numPerm: Int = 64, bands: Int = 8): Unit = {
    // full rebuild: previous-generation side artifacts drop
    // (IndexMaintenance.resetTableIndexSides — stale tombstones would
    // silently anti-join fresh rows out; stale batch marks would
    // silently skip a reused stream's live batches)
    graft.sources.IndexMaintenance.resetTableIndexSides(
      documents.sparkSession, table)
    graft.sources.Sinks.writeBucketed(
      bandTable(documents, k, word = false, numPerm, bands),
      // bucket columns = the candidate join's key set EXACTLY: Spark's
      // planner only keeps the bucketed (exchange-free) scan when the
      // join keys match the bucket spec, not a superset of it
      table, Seq("band", "band_hash"), numBuckets)
    // persist the signature geometry with the table: Spark validates
    // only the bucket layout on append, so a mismatched (k, numPerm,
    // bands) append would otherwise succeed silently and corrupt the
    // index semantics (recall quietly degrades). The properties make
    // [[appendToMinhashIndex]] able to reject drift as an ERROR.
    documents.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('graft.minhash.k'='$k','graft.minhash.numPerm'='$numPerm','graft.minhash.bands'='$bands')")
  }

  /** [[minhashLsh]] over a persisted band index: candidates come from
    * the bucketed table (shuffle-free self-join — both sides carry the
    * same HashPartitioning on the bucket columns, which are exactly
    * the join keys), and the corpus is consulted only to
    * Jaccard-verify the candidate ids. Same output contract as
    * [[minhashLsh]] (spec-asserted equal).
    *
    * CONTRACT: `documents` must cover every doc_id in the index — the
    * verify step inner-joins candidates to it, so an id present in the
    * index but missing from the frame (stale index, or an appended
    * batch not unioned in) is silently dropped from the output. After
    * [[appendToMinhashIndex]], pass the corpus UNION the appended
    * batch (as the append spec does); deletions are handled by the
    * index itself ([[deleteFromMinhashIndex]] tombstones, honored
    * here via [[liveIndexRows]]).
    */
  def minhashLshIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                        documents: DataFrame, k: Int = 5,
                        threshold: Double = 0.5): DataFrame = {
    val base = documents.select(col("doc_id"), norm(col("text")).as("nt"))
    val cand = bucketCandidates(liveIndexRows(spark, table)).distinct()
    verifyJaccard(cand, base, k, word = false, threshold)
  }

  /** The minhash index rows still LIVE after deletions (see
    * [[graft.sources.IndexMaintenance]] — the shared merge-on-read
    * tombstone mechanism). The anti-join's build side is the (tiny)
    * tombstone table, broadcast — a broadcast join preserves the
    * streamed side's bucket partitioning, so the downstream candidate
    * self-join STAYS exchange-free (spec-asserted).
    */
  private[graft] def liveIndexRows(spark: org.apache.spark.sql.SparkSession,
                                   table: String): DataFrame =
    graft.sources.IndexMaintenance.liveRows(spark, table)

  /** Index DELETION (takedown/right-to-be-forgotten) for the minhash
    * band index: merge-on-read tombstones via
    * [[graft.sources.IndexMaintenance.tombstone]] — O(batch) cost,
    * idempotent, honored by [[minhashLshIndexed]] and
    * [[minhashLshAgainstIndex]].
    */
  def deleteFromMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                             table: String, ids: DataFrame): Unit =
    graft.sources.IndexMaintenance.tombstone(spark, table, ids)

  /** Fold accumulated tombstones into the band files (same bucket
    * spec, geometry properties carried over) — see
    * [[graft.sources.IndexMaintenance.compact]].
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, numBuckets: Int = 8): Unit =
    graft.sources.IndexMaintenance.compact(spark, table) { (live, tmp) =>
      graft.sources.Sinks.rewriteBucketed(live, tmp, Seq("band", "band_hash"), numBuckets)
    }

  /** Takedown for the containment token index — same tombstone
    * mechanism, honored by [[containmentPairsIndexed]] and
    * [[containmentAgainstIndex]].
    */
  def deleteFromContainmentIndex(spark: org.apache.spark.sql.SparkSession,
                                 table: String, ids: DataFrame): Unit =
    graft.sources.IndexMaintenance.tombstone(spark, table, ids)

  def compactContainmentIndex(spark: org.apache.spark.sql.SparkSession,
                              table: String, numBuckets: Int = 8): Unit =
    graft.sources.IndexMaintenance.compact(spark, table) { (live, tmp) =>
      graft.sources.Sinks.rewriteBucketed(live, tmp, Seq("h"), numBuckets)
    }

  /** Takedown for the cluster assignment index — honored by
    * [[keepBestIndexed]], [[clusterStatsFromIndex]], and
    * [[graft.operators.Sampling.splitFromIndex]]. Removing a cluster's
    * former keeper promotes the next-best member automatically (the
    * argmax runs over live rows).
    */
  def deleteFromClusterIndex(spark: org.apache.spark.sql.SparkSession,
                             table: String, ids: DataFrame): Unit =
    graft.sources.IndexMaintenance.tombstone(spark, table, ids)

  /** Index MAINTENANCE: append an arriving batch's band signatures to
    * the persisted index, completing the ingest lifecycle — build
    * ([[writeMinhashIndex]]) → check the batch
    * ([[minhashLshAgainstIndex]]) → extend (here), so the NEXT batch
    * is checked against a corpus that includes this one. Drift is an
    * error, not silent corruption, on BOTH axes: Spark itself rejects
    * a mismatched bucketBy, and the signature geometry (k, numPerm,
    * bands) — which Spark does NOT validate — is checked here against
    * the table properties stamped by [[writeMinhashIndex]], so an
    * appender with the wrong band geometry fails fast instead of
    * quietly degrading dedup recall. Under streaming, call this from
    * `foreachBatch` alongside the document sink (the
    * [[graft.streaming.StreamingRollups.loadStream]] pattern).
    */
  def appendToMinhashIndex(newDocs: DataFrame, table: String, numBuckets: Int = 8,
                           k: Int = 5, numPerm: Int = 64, bands: Int = 8): Unit =
    graft.sources.IndexMaintenance.withTableWriterLease(
      newDocs.sparkSession, table) {
      graft.sources.Sinks.appendBucketed(
        minhashAppendRows(newDocs, table, k, numPerm, bands),
        table, Seq("band", "band_hash"), numBuckets)
    }

  /** The batch's band rows for a minhash-index append, geometry
    * validated against the table properties — the STAGE step shared by
    * [[appendToMinhashIndex]] and the exactly-once streaming append
    * ([[graft.streaming.StreamingRollups.indexAppendStream]]).
    */
  private[graft] def minhashAppendRows(newDocs: DataFrame, table: String,
                                       k: Int = 5, numPerm: Int = 64,
                                       bands: Int = 8): DataFrame = {
    val props = newDocs.sparkSession.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    Seq("graft.minhash.k" -> k, "graft.minhash.numPerm" -> numPerm,
        "graft.minhash.bands" -> bands).foreach { case (key, expected) =>
      val stored = props.getOrElse(key, throw new IllegalArgumentException(
        s"index table $table has no $key property — not written by writeMinhashIndex"))
      require(stored == expected.toString,
        s"minhash index geometry drift on $table: $key is $stored in the index, " +
          s"$expected in the append — rebuild the index or match its geometry")
    }
    bandTable(newDocs, k, word = false, numPerm, bands)
  }

  /** INCREMENTAL near-dup check: an arriving batch against the
    * persisted corpus index — the batch-ingest workflow (is this
    * re-crawl already in the corpus?), the batch analog of
    * [[graft.streaming.StreamingRollups.dedupNear]]. Only the NEW
    * documents are shingled and banded (batch-sized work); the corpus
    * side is the pre-bucketed index table, so the bucket join shuffles
    * the batch's bands into the index's existing layout and the corpus
    * text is consulted only for the candidates' Jaccard verification.
    * Output: (new_doc_id, corpus_doc_id, jaccard ≥ threshold) pairs in
    * no particular order (a caller that needs one sorts) — empty means
    * the whole batch is novel.
    */
  def minhashLshAgainstIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                             newDocs: DataFrame, corpus: DataFrame, k: Int = 5,
                             numPerm: Int = 64, bands: Int = 8,
                             threshold: Double = 0.5): DataFrame = {
    val newBands = bandTable(newDocs, k, word = false, numPerm, bands)
    val cand = newBands.as("x")
      .join(liveIndexRows(spark, table).as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    cand
      .join(newDocs.select(col("doc_id").as("a"), norm(col("text")).as("nt_a")), "a")
      .join(corpus.select(col("doc_id").as("b"), norm(col("text")).as("nt_b")), "b")
      .withColumn("jaccard", HashExprs.jaccardText(col("nt_a"), col("nt_b"), k, word = false))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Near-dup pairs on character 5-shingles (MinHash LSH, Jaccard
    * verified ≥ `threshold`).
    *
    * Band geometry: 8 bands × 8 rows puts the S-curve knee at
    * (1/8)^(1/8) ≈ 0.77 — real near-dups (Jaccard ≥0.9) are caught
    * with ~99.9% recall while background text pairs (char-5 Jaccard
    * ≈0.3 on same-language corpora) collide with p ≈ 6e-5 per band.
    * Wider 4-row bands put the knee at 0.5 but admit ~1000× more
    * false candidates, which turns the verify join quadratic.
    */
  def minhashLsh(documents: DataFrame, k: Int = 5, numPerm: Int = 64,
                 bands: Int = 8, threshold: Double = 0.5): DataFrame =
    lshPairs(documents, k, word = false, numPerm, bands, threshold)

  /** Pair-similarity histogram — the threshold-calibration curve for
    * the near-dup pass: how many candidate pairs fall in each Jaccard
    * band above the LSH floor. Reading this before picking the dedup
    * threshold replaces folklore (0.8? 0.85?) with the corpus' own
    * bimodality: true duplicates pile at the top bands, topical
    * near-misses at the bottom, and the valley between them IS the
    * threshold. Bands by floor(j·100) — the same double in both
    * engines floors identically. Bounded ≤51-row output.
    */
  def pairSimHistogram(documents: DataFrame,
                       floorT: Double = 0.5): DataFrame = {
    minhashLsh(documents, threshold = floorT)
      .groupBy(floor(col("jaccard") * 100).cast("int").as("sim_band_pct"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("sim_band_pct")
  }

  /** Dedup threshold PRECISION/RECALL curve — the companion of
    * [[pairSimHistogram]] that turns the band histogram into the
    * operating table: for each candidate threshold τ, how many pairs
    * would be kept, how many of those are "true" duplicates (Jaccard ≥
    * `trueT`), and the resulting precision/recall in integer bp.
    * Reading this picks τ with its cost made explicit instead of
    * eyeballing the histogram valley. Rides the verified LSH pair set
    * (tiny — pairs, not docs), cross-joined with the ≤11-row threshold
    * axis and a one-row truth total; an empty kept set reports
    * precision 10000 by convention (vacuously precise). The float
    * compare `jaccard ≥ τ/100` uses the same literal double in both
    * engines.
    */
  def dedupPrCurve(documents: DataFrame, floorT: Double = 0.5,
                   trueT: Double = 0.8): DataFrame = {
    val pairs = minhashLsh(documents, threshold = floorT)
    val nTrue = broadcast(pairs.agg(
      sum(when(col("jaccard") >= trueT, 1L).otherwise(0L)).as("n_true")))
    val taus = (50 to 100 by 5).map(t => lit(t))
    pairs.crossJoin(nTrue)
      .select(explode(array(taus: _*)).as("tau_pct"), col("jaccard"), col("n_true"))
      .groupBy("tau_pct", "n_true")
      .agg(sum(when(col("jaccard") >= col("tau_pct") / 100.0, 1L).otherwise(0L))
        .as("n_kept"),
        sum(when(col("jaccard") >= col("tau_pct") / 100.0 &&
          col("jaccard") >= trueT, 1L).otherwise(0L)).as("n_tp"))
      .select(col("tau_pct"), col("n_kept"), col("n_tp"),
        when(col("n_kept") === 0, lit(10000L))
          .otherwise(expr("(2 * n_tp * 10000 + n_kept) div (2 * n_kept)"))
          .as("precision_bp"),
        when(col("n_true") === 0, lit(10000L))
          .otherwise(expr("(2 * n_tp * 10000 + n_true) div (2 * n_true)"))
          .as("recall_bp"))
      .orderBy("tau_pct")
  }

  /** Per-source duplication rate — the crawl-ops dashboard over the
    * near-dup pass: for each source, how many of its documents sit in
    * at least one near-duplicate pair, as an integer-bp share. A
    * source whose rate spikes is re-serving content (mirror, feed
    * loop, re-crawl misconfig) and should be fixed at the source
    * rather than paid for in dedup compute forever. Rides the same
    * LSH pair machinery as [[minhashLsh]]; the per-source rollup adds
    * one explode of the (already tiny) pair set + one broadcast join.
    */
  def dupRateBySource(documents: DataFrame,
                      threshold: Double = 0.5): DataFrame = {
    val pairs = minhashLsh(documents, threshold = threshold)
    val dupDocs = pairs.select(explode(array(col("a"), col("b"))).as("doc_id"))
      .distinct()
    val marked = documents.select(col("doc_id"), col("source"))
      .join(dupDocs.withColumn("is_dup", lit(1L)), Seq("doc_id"), "left")
    marked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
      .withColumn("dup_bp",
        expr("(n_dup_docs * 10000 * 2 + n_docs) div (2 * n_docs)"))
      .orderBy("source")
  }

  /** Edit-distance near-dup refinement: the minhash-candidate pairs
    * re-scored by NORMALIZED LEVENSHTEIN similarity — the sequence-
    * aware second stage that set-based Jaccard can't provide (Jaccard
    * sees bags of shingles: a paragraph-order shuffle scores ~1.0;
    * Levenshtein charges every moved character, separating true
    * re-publications from reshuffled boilerplate). The O(n·m) DP runs
    * ONLY on LSH-verified candidates, never all pairs — at 100 TB
    * bound the per-pair cost with Spark's thresholded
    * `levenshtein(l, r, max)` once a distance ceiling is fixed.
    * Similarity is all-integer basis points: both engines implement
    * the same classic DP, so `lev` (and the bp identity) match
    * exactly.
    */
  def editDistancePairs(documents: DataFrame, jaccardFloor: Double = 0.5,
                        minSimBp: Long = 7000L): DataFrame = {
    val base = documents.select(col("doc_id"), norm(col("text")).as("nt"))
    minhashLsh(documents, threshold = jaccardFloor).select("a", "b")
      .join(base.select(col("doc_id").as("a"), col("nt").as("nt_a")), "a")
      .join(base.select(col("doc_id").as("b"), col("nt").as("nt_b")), "b")
      .withColumn("lev", levenshtein(col("nt_a"), col("nt_b")).cast("long"))
      .withColumn("maxlen",
        greatest(length(col("nt_a")), length(col("nt_b"))).cast("long"))
      .withColumn("sim_bp",
        expr("((maxlen - lev) * 10000 * 2 + maxlen) div (2 * maxlen)"))
      .filter(col("sim_bp") >= minSimBp)
      .select(col("a"), col("b"), col("lev"), col("sim_bp"))
      .orderBy("a", "b")
  }

  /** Word n-gram set Jaccard pair scores (LSH-accelerated — exact
    * Jaccard is computed on candidates only). 8 bands × 6 rows:
    * knee at (1/8)^(1/6) ≈ 0.71.
    */
  def ngramJaccard(documents: DataFrame, k: Int = 3, threshold: Double = 0.4): DataFrame =
    lshPairs(documents, k, word = true, numPerm = 48, bands = 8, threshold)

  /** EXACT set-containment near-dup pairs: C(a, b) = |A∩B| /
    * min(|A|,|B|) ≥ `threshold` over char-k shingle-hash sets. This is
    * the asymmetric-duplicate detector the Jaccard family structurally
    * misses: a short document contained in a longer one (a quoted
    * article inside a boilerplate wrapper, an abstract inside its
    * paper) has containment ≈ 1 but Jaccard ≈ |A|/|B| — far below any
    * LSH knee, so no minhash band ever collides.
    *
    * Algorithm: set-similarity join by PREFIX FILTERING (the public
    * SSJoin/PPJoin family) — exact, not probabilistic. Each document's
    * shingles are ordered by ascending corpus document frequency
    * (rarest first; ANY fixed global order is correct — the df order
    * only minimizes candidates), and a pair with C ≥ τ, where A is the
    * smaller set, must share ≥1 of A's first ⌊(1-τ)·|A|⌋+1 shingles:
    * if B missed that whole prefix, |A∩B| ≤ |A| − (⌊(1-τ)·|A|⌋+1)
    * < τ·|A|. Candidates are therefore prefix-tokens ⋈ full-token
    * lists (smaller side's prefix against either side), then exact
    * compiled containment verifies each candidate pair once.
    *
    * Scale shape: a df groupBy, one per-doc sort (the groupBy's
    * sort_array), the prefix⋈full hash join on the shingle hash, and
    * two id-keyed verify joins — all linear in corpus size, no
    * all-pairs step anywhere; the prefix join's fan-out is bounded by
    * the df of the RAREST shingles of each doc, which is what the
    * rarest-first order is for.
    *
    * The shingle unit is the performance contract: prefix filtering
    * prunes only if each document's rarest shingles are actually rare,
    * so the default is WORD 5-grams (the standard containment-dedup
    * unit — long shingles are near-unique, df ≈ 1, and the prefix join
    * touches only genuine overlaps). Char-k shingles (`word = false`)
    * stay available but degrade on low-diversity corpora: measured
    * 460 s vs 4 s at sf0.1 on the synthetic tables, where EVERY char-5
    * shingle has df ≈ 10³ and the "prefix" prunes nothing. Exactness
    * is unaffected either way — the unit only decides what "duplicate"
    * means and what the join fans out to.
    */
  def containmentPairs(documents: DataFrame, k: Int = 5, word: Boolean = true,
                       threshold: Double = 0.8): DataFrame = {
    val (base, ranked) = containmentRanked(documents, k, word)
    // materialized ONCE (narrow (doc_id, n, h, in_prefix) longs — never
    // the text, the bm25 convention): the prefix-filter self-join
    // consumes the token table on BOTH sides, and unchecked each side
    // replays the df-rank collect_list/sort/posexplode chain
    val tokens = prefixFlagged(ranked.select(col("doc_id"), col("hs")), threshold)
      .localCheckpoint(true)
    verifyContainment(containmentCandidates(tokens).distinct(),
      base, k, word, threshold)
  }

  /** The (doc_id, n, h, in_prefix) token rows of a containment join,
    * from per-document hash ARRAYS in the order whose leading elements
    * should form the prefix (df-ranked for [[containmentPairs]] /
    * [[writeContainmentIndex]]; plain hash order for appended or
    * arriving batches, which is equally correct — see the pigeonhole
    * note on [[containmentPairs]]).
    */
  private def prefixFlagged(docsHs: DataFrame, threshold: Double): DataFrame =
    docsHs
      .select(col("doc_id"), size(col("hs")).as("n"), posexplode(col("hs")))
      .toDF("doc_id", "n", "pos", "h")
      .withColumn("in_prefix", col("pos") < expr(prefixLenSql(threshold, "n")))
      .select("doc_id", "n", "h", "in_prefix")

  /** Candidate (a, b) pairs over a prefix-flagged token table: the
    * smaller set's prefix against the other side's full list, ties on
    * cardinality breaking by id so each unordered pair is generated
    * once. NOT distinct — a pair sharing several prefix tokens appears
    * once per share; callers dedupe (same convention as
    * [[bucketCandidates]]). Package-visible so the plan-shape spec
    * asserts THIS join — the production one — plans zero exchanges
    * over the bucketed persisted index.
    */
  private[graft] def containmentCandidates(tokens: DataFrame): DataFrame =
    tokens.filter(col("in_prefix")).as("p")
      .join(tokens.as("f"),
        col("p.h") === col("f.h") &&
          (col("p.n") < col("f.n") ||
            (col("p.n") === col("f.n") && col("p.doc_id") < col("f.doc_id"))))
      .select(least(col("p.doc_id"), col("f.doc_id")).as("a"),
        greatest(col("p.doc_id"), col("f.doc_id")).as("b"))

  /** Exact-containment verification of candidate pairs (the analog of
    * [[verifyJaccard]]): join the normalized text back for candidates
    * only, score with one compiled pass per pair.
    */
  private def verifyContainment(cand: DataFrame, base: DataFrame, k: Int,
                                word: Boolean, threshold: Double): DataFrame =
    cand
      .join(base.select(col("doc_id").as("a"), col("nt").as("nt_a")), "a")
      .join(base.select(col("doc_id").as("b"), col("nt").as("nt_b")), "b")
      .withColumn("containment",
        HashExprs.containmentText(col("nt_a"), col("nt_b"), k, word))
      .filter(col("containment") >= threshold)
      .select("a", "b", "containment")
      .orderBy("a", "b")

  /** Shared front half of the containment family: normalized text plus
    * each document's shingle hashes in rarest-first canonical order
    * ((df, h) is a total order, so prefix membership is deterministic).
    */
  private def containmentRanked(documents: DataFrame, k: Int,
                                word: Boolean): (DataFrame, DataFrame) = {
    val base = documents.select(col("doc_id"), norm(col("text")).as("nt"))
    val sets = base.select(col("doc_id"), HashExprs.shingleHashes(col("nt"), k, word).as("sh"))
    val tokens = sets.select(col("doc_id"), explode(col("sh")).as("h"))
    // df via an unordered window over the token-stream's ONE exchange
    // on h — the former groupBy(h) + join-back consumed the shingle
    // pass twice (the aggregate subtree and the join's probe side
    // cannot share an exchange) and paid a second h-keyed shuffle;
    // count().over(partitionBy(h)) attaches the identical df in the
    // same pass. Same (df, h) total order, same prefix, same output.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val ranked = tokens
      .withColumn("df", count(lit(1)).over(w))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ord"))
      .select(col("doc_id"),
        expr("transform(ord, x -> x.h)").as("hs"), size(col("ord")).as("n"))
    (base, ranked)
  }

  /** Persist the containment join's per-document token table —
    * (doc_id, n, h, in_prefix), bucketed by the shingle hash — the
    * ingest-time half of [[containmentPairs]], mirroring
    * [[writeMinhashIndex]]: shingling, the corpus df pass and the
    * rarest-first ranking are paid ONCE at write time, and `in_prefix`
    * marks each document's ⌊(1-τ)·n⌋+1 rarest shingles so an
    * incremental batch check ([[containmentAgainstIndex]]) joins in
    * either direction without re-deriving corpus dfs. Geometry
    * (k, word, threshold) rides along as table properties; a check
    * with a mismatched unit or a LOWER threshold (which would need
    * longer prefixes than were stored) is rejected as an error.
    */
  def writeContainmentIndex(documents: DataFrame, table: String, k: Int = 5,
                            word: Boolean = true, threshold: Double = 0.8,
                            numBuckets: Int = 8): Unit = {
    // full rebuild: previous-generation side artifacts drop
    // (IndexMaintenance.resetTableIndexSides — stale tombstones would
    // silently anti-join fresh rows out; stale batch marks would
    // silently skip a reused stream's live batches)
    graft.sources.IndexMaintenance.resetTableIndexSides(
      documents.sparkSession, table)
    val (_, ranked) = containmentRanked(documents, k, word)
    val rows = prefixFlagged(ranked.select(col("doc_id"), col("hs")), threshold)
    graft.sources.Sinks.writeBucketed(rows, table, Seq("h"), numBuckets)
    documents.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('graft.containment.k'='$k','graft.containment.word'='$word'," +
        s"'graft.containment.threshold'='$threshold')")
  }

  /** Append an ingested batch to the containment index. The appended
    * documents' prefixes use their OWN hash order rather than a corpus
    * df re-pass — correct because the prefix pigeonhole holds under
    * ANY fixed per-document order (hash order just prunes less than
    * df order, a performance-only difference confined to the appended
    * rows). Geometry is validated against the stored table properties;
    * prefix lengths use the STORED threshold so every row in the index
    * carries the same prefix-length contract.
    */
  def appendToContainmentIndex(newDocs: DataFrame, table: String,
                               numBuckets: Int = 8): Unit =
    graft.sources.IndexMaintenance.withTableWriterLease(
      newDocs.sparkSession, table) {
      graft.sources.Sinks.appendBucketed(
        containmentAppendRows(newDocs, table), table, Seq("h"), numBuckets)
    }

  /** The batch's prefix-flagged token rows for a containment-index
    * append (stored-threshold prefix lengths) — the STAGE step shared
    * by [[appendToContainmentIndex]] and the exactly-once streaming
    * append.
    */
  private[graft] def containmentAppendRows(newDocs: DataFrame,
                                           table: String): DataFrame = {
    val (k, word, threshold) = containmentGeometry(newDocs.sparkSession, table)
    prefixFlagged(newDocs.select(col("doc_id"),
      HashExprs.shingleHashes(norm(col("text")), k, word).as("hs")), threshold)
  }

  /** Incremental containment check: an arriving batch against the
    * persisted containment index — "is any part of this re-crawl
    * already contained in (or containing) a corpus document?" — the
    * containment analog of [[minhashLshAgainstIndex]]. Only the NEW
    * documents are shingled (batch-sized work, no corpus df pass: the
    * prefix pigeonhole holds under ANY fixed per-document order, so
    * the batch's prefix is simply its smallest hashes); the corpus
    * side is the pre-bucketed token table. Completeness needs the
    * smaller set's prefix against the larger set's FULL list, so
    * candidates are the union of both directions — batch-prefix ⋈
    * index-full and index-prefix ⋈ batch-full — with cardinality ties
    * passing through both and deduping. The stored prefixes are long
    * enough for any `threshold` ≥ the build threshold (checked).
    * Output: (new_doc_id, corpus_doc_id, containment ≥ threshold) —
    * empty means the batch is novel. The corpus text frame must cover
    * every id in the index (same contract as the minhash index).
    */
  /** Prefix length ⌊(1-τ)·n⌋+1 as SQL, with a nudge ABOVE the exact
    * value before the floor: (1-τ) is not exact in IEEE doubles
    * ((1.0-0.8)*5 = 0.9999999999999998), and flooring one short of the
    * true integer would shorten the prefix below the pigeonhole
    * minimum — silently losing pairs at exactly the threshold
    * (regression-tested). The nudge can only ever LENGTHEN the prefix
    * (more candidates, same exactness), never shorten it.
    */
  private def prefixLenSql(threshold: Double, n: String): String =
    s"cast(floor((1.0d - $threshold) * $n + 1e-9) + 1 as int)"

  /** The stored (k, word, threshold) geometry of a containment index,
    * with a descriptive error for any table writeContainmentIndex did
    * not produce.
    */
  private def containmentGeometry(spark: org.apache.spark.sql.SparkSession,
                                  table: String): (Int, Boolean, Double) = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def get(key: String): String = props.getOrElse(s"graft.containment.$key",
      throw new IllegalArgumentException(
        s"index table $table has no graft.containment.$key property — not written " +
          "by writeContainmentIndex"))
    (get("k").toInt, get("word").toBoolean, get("threshold").toDouble)
  }

  private def validateContainmentGeometry(spark: org.apache.spark.sql.SparkSession,
                                          table: String, k: Int, word: Boolean,
                                          threshold: Double): Unit = {
    val (storedK, storedWord, builtThreshold) = containmentGeometry(spark, table)
    Seq("k" -> (storedK.toString, k.toString),
        "word" -> (storedWord.toString, word.toString)).foreach {
      case (key, (stored, expected)) =>
        require(stored == expected,
          s"containment index geometry drift on $table: $key is $stored in the index, " +
            s"$expected in the check — rebuild the index or match its geometry")
    }
    require(threshold >= builtThreshold - 1e-12,
      s"containment check threshold $threshold is below the index build threshold " +
        s"$builtThreshold on $table — stored prefixes are too short for it; rebuild " +
        "the index at the lower threshold")
  }

  /** [[containmentPairs]] over the persisted containment index: the
    * prefix⋈full candidate join reads BOTH sides from the bucketed
    * token table — co-bucketed on exactly the join key, so the
    * candidate join plans zero exchanges — and the corpus text is
    * consulted only to verify candidates. Identical output to the
    * direct form (the stored prefixes encode the same rarest-first
    * order and length).
    */
  def containmentPairsIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                              corpus: DataFrame, k: Int = 5, word: Boolean = true,
                              threshold: Double = 0.8): DataFrame = {
    validateContainmentGeometry(spark, table, k, word, threshold)
    verifyContainment(containmentCandidates(liveIndexRows(spark, table)).distinct(),
      corpus.select(col("doc_id"), norm(col("text")).as("nt")), k, word, threshold)
  }

  def containmentAgainstIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                              newDocs: DataFrame, corpus: DataFrame, k: Int = 5,
                              word: Boolean = true, threshold: Double = 0.8): DataFrame = {
    validateContainmentGeometry(spark, table, k, word, threshold)
    val baseNew = newDocs.select(col("doc_id"), norm(col("text")).as("nt"))
    val newTok = prefixFlagged(baseNew.select(col("doc_id"),
        HashExprs.shingleHashes(col("nt"), k, word).as("hs")), threshold)
      .toDF("nid", "nn", "h", "np")
    val idx = liveIndexRows(spark, table)
    val candA = newTok.filter(col("np"))
      .join(idx, "h").filter(col("nn") <= col("n"))
    val candB = newTok
      .join(idx.filter(col("in_prefix")), "h").filter(col("n") <= col("nn"))
    val cand = candA.select(col("nid"), col("doc_id").as("cid"))
      .unionByName(candB.select(col("nid"), col("doc_id").as("cid")))
      .distinct()
    cand
      .join(baseNew.select(col("doc_id").as("nid"), col("nt").as("nt_a")), "nid")
      .join(corpus.select(col("doc_id").as("cid"), norm(col("text")).as("nt_b")), "cid")
      .withColumn("containment",
        HashExprs.containmentText(col("nt_a"), col("nt_b"), k, word))
      .filter(col("containment") >= threshold)
      .select(col("nid").as("new_doc_id"), col("cid").as("corpus_doc_id"),
        col("containment"))
      .orderBy("new_doc_id", "corpus_doc_id")
  }

  /** Near-dup CLUSTERS from the pair list: each doc is assigned the
    * minimum doc_id reachable through near-dup pairs (connected
    * components by iterative min-label propagation). This is the
    * at-scale dedup deliverable — a keep/drop decision per document —
    * because emitting all pairs is quadratic in cluster size while
    * the cluster assignment is linear.
    *
    * Label propagation is a small number of self-joins over the PAIR
    * table (size ≈ number of near-dup edges, ≪ corpus); each round is
    * a neighbor-min step followed by a pointer-jumping compression
    * (label := label(label)), so reachable distance roughly doubles
    * per round and `maxIter` rounds cover components of diameter
    * ~2^maxIter. No driver-side graph state.
    */
  def minhashClusters(documents: DataFrame, maxIter: Int = 8): DataFrame =
    clusterPairs(minhashLsh(documents).select("a", "b"),
      documents.select("doc_id"), maxIter)

  /** Cluster-SIZE histogram — the dedup-effectiveness report a
    * curation review reads before shipping: how many near-dup
    * clusters of each size exist and how many documents they hold
    * (singletons = unique docs; the tail row is the template/boiler-
    * plate family). Mass-conserving by construction: Σ n_docs equals
    * the corpus count (spec-asserted). Two tiny aggregates over the
    * (doc, cluster) assignment — output is ≤ |distinct sizes| rows.
    */
  def clusterStats(documents: DataFrame, maxIter: Int = 8): DataFrame =
    sizeHistogram(minhashClusters(documents, maxIter))

  /** The histogram aggregation itself, shared by the direct and
    * indexed forms — ONE definition, so the two can never diverge on
    * the "identical output" contract their shared oracle checks.
    */
  private[graft] def sizeHistogram(assignment: DataFrame): DataFrame =
    assignment
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")

  /** The end product of the dedup pipeline: ONE kept document per
    * near-dup cluster, chosen by QUALITY (not min id — dropping the
    * better-written duplicate is a real training-data loss), with a
    * deterministic id tiebreak. Composes [[minhashClusters]] with
    * [[graft.functions.TextAnalysis.qualityScore]]; the per-cluster
    * argmax is a window over the (tiny) cluster assignment, not the
    * corpus.
    */
  def keepBest(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = minhashClusters(documents).select("doc_id", "cluster_id")
    val quality = graft.functions.TextAnalysis.qualityScore(documents)
      .select(col("doc_id"), col("quality"))
    val byCluster = Window.partitionBy("cluster_id")
    val w = byCluster.orderBy(col("quality").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc_id"),
        col("n_members"), col("quality").as("best_quality"))
      .orderBy("cluster_id")
  }

  /** Persist the near-dup cluster ASSIGNMENT — (doc_id, cluster_id,
    * quality) — as a table bucketed by cluster_id: the clustering
    * artifact computed ONCE at ingest, like the minhash band index
    * ([[writeMinhashIndex]]) and the IVF codebook. Each row carries
    * the document's quality composite, so every cluster-keyed
    * consumer — keep-best argmax ([[keepBestIndexed]]), leakage-safe
    * splitting ([[graft.operators.Sampling.splitFromIndex]]), dedup
    * reporting — runs off this narrow table without touching the
    * corpus or re-running LSH, and the bucketing makes their
    * cluster-partitioned work ZERO-exchange (spec-asserted).
    */
  def writeClusterIndex(documents: DataFrame, table: String, numBuckets: Int = 8): Unit = {
    // a full rebuild supersedes every side artifact — including the
    // stale-cluster ids, whose survival across a label-history reset
    // could anti-join freshly rebuilt clusters out (resetClusterIndexSides)
    resetClusterIndexSides(documents.sparkSession, table)
    val clusters = minhashClusters(documents).select("doc_id", "cluster_id")
    val quality = documents.select(col("doc_id"),
      graft.functions.TextAnalysis.qualityCol(col("text")).as("quality"))
    graft.sources.Sinks.writeBucketed(
      clusters.join(quality, "doc_id"), table, Seq("cluster_id"), numBuckets)
  }

  /** [[keepBest]] over the persisted cluster index: the per-cluster
    * quality argmax reads the bucketed assignment — the window's
    * cluster partitioning is satisfied by the bucketing, so the only
    * work is a bucket-local sort. Identical output to the direct
    * path (the index stores the same quality composite).
    */
  def keepBestIndexed(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy("cluster_id")
    val w = byCluster.orderBy(col("quality").desc, col("doc_id"))
    liveClusterRows(spark, table)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc_id"),
        col("n_members"), col("quality").as("best_quality"))
      .orderBy("cluster_id")
  }

  /** [[clusterStats]] over the persisted cluster index — at scale the
    * histogram is a report you re-read after every ingest batch, so it
    * should never re-run LSH: two aggregates over the bucketed
    * assignment, with the per-cluster size grouping satisfied
    * exchange-free by the cluster_id bucketing. Identical output to
    * the direct path (same assignment).
    */
  def clusterStatsFromIndex(spark: org.apache.spark.sql.SparkSession,
                            table: String): DataFrame =
    sizeHistogram(liveClusterRows(spark, table))

  /** INCREMENTAL cluster-assignment maintenance — the last lifecycle
    * asymmetry closed: merge an arriving batch into the PERSISTED
    * cluster assignment without corpus-wide LSH or corpus-wide
    * components. Work is batch-sized everywhere:
    *
    *  1. batch-involving edges: batch↔corpus candidates from the
    *     persisted minhash band index ([[minhashLshAgainstIndex]] —
    *     only the batch is shingled/signed), batch↔batch from
    *     batch-local LSH;
    *  2. corpus endpoints CONTRACT to their persisted cluster ids
    *     (one narrow join against the cluster index) — a corpus
    *     cluster's id is the min doc_id of its members, so the
    *     contracted graph's component minima equal the union graph's;
    *  3. [[clusterPairs]] over the contracted graph (nodes = batch ids
    *     ∪ touched cluster ids — near-dup-edge-sized, ≪ corpus);
    *  4. re-label: rows of touched clusters and matched batch docs get
    *     the merged component min; untouched corpus rows pass through;
    *     edgeless batch docs become their own singletons.
    *
    * Output: (doc_id, cluster_id, is_canonical) over corpus ∪ batch,
    * IDENTICAL to re-running [[minhashClusters]] on the union (two
    * corpus clusters bridged by a batch doc merge; a batch doc with a
    * smaller id than a cluster's min becomes its new canonical) — so
    * the gate oracle is the same recursive-CTE components, over the
    * unioned set. `corpus` is consulted only for candidate-pair
    * verification text, never re-shingled (spec-pinned).
    */
  def clusterIncremental(spark: org.apache.spark.sql.SparkSession,
                         minhashTable: String, clusterTable: String,
                         newDocs: DataFrame, corpus: DataFrame,
                         maxIter: Int = 8): DataFrame = {
    val assign = liveClusterRows(spark, clusterTable).select("doc_id", "cluster_id")
    // batch-sized by construction — materialized ONCE: the edge
    // pipeline (batch LSH + index probe + contraction) is consumed
    // three times below (both node projections + clusterPairs), and
    // each reference would otherwise re-run it end to end
    val edges = incrementalEdges(spark, minhashTable, clusterTable, newDocs, corpus)
      .localCheckpoint(true)
    val nodes = edges.select(col("a").as("doc_id"))
      .unionByName(edges.select(col("b").as("doc_id")))
      .unionByName(newDocs.select(col("doc_id")))
      .distinct()
    val merged = clusterPairs(edges, nodes, maxIter)
      .select(col("doc_id").as("node"), col("cluster_id").as("new_label"))
    val corpusOut = assign
      .join(merged.withColumnRenamed("node", "cluster_id"),
        Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
    val batchOut = newDocs.select("doc_id")
      .join(merged.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("doc_id")).as("cluster_id"))
    // NO ordering tail: the output is corpus-sized and no consumer
    // needs a global sort (upserts recompute labels internally; gates
    // order in their own projection) — sorting here would be the one
    // corpus-wide exchange in an otherwise batch-sized op
    corpusOut.unionByName(batchOut)
      .select(col("doc_id"), col("cluster_id"),
        (col("cluster_id") === col("doc_id")).as("is_canonical"))
  }

  /** The contracted edge table [[clusterIncremental]] clusters over —
    * package-visible so the no-corpus-reshingle spec can inspect the
    * PRE-checkpoint plan (clusterPairs materializes eagerly, so the
    * final output plan only shows the checkpoint scan): batch↔batch
    * LSH edges plus batch↔corpus edges with the corpus endpoint
    * contracted to its persisted cluster id.
    */
  private[graft] def incrementalEdges(spark: org.apache.spark.sql.SparkSession,
                                      minhashTable: String, clusterTable: String,
                                      newDocs: DataFrame,
                                      corpus: DataFrame): DataFrame = {
    val bc = minhashLshAgainstIndex(spark, minhashTable, newDocs, corpus)
      .select(col("a"), col("b"))
    val bb = minhashLsh(newDocs).select("a", "b")
    // contract the corpus endpoint of every batch↔corpus edge to its
    // persisted cluster id; the cluster index covers every corpus doc,
    // so this inner join loses nothing. MUST be the live-cluster view:
    // after an upsert, a superseded cluster's old rows are still on
    // disk, and reading them would contract a doc to BOTH its old and
    // new cluster ids (doubled edges, phantom nodes).
    val assign = liveClusterRows(spark, clusterTable).select("doc_id", "cluster_id")
    val bcContracted = bc
      .join(assign.withColumnRenamed("doc_id", "b"), "b")
      .select(col("a"), col("cluster_id").as("b"))
    bb.unionByName(bcContracted)
  }

  /** Side table holding cluster ids whose assignment rows were
    * superseded by an [[upsertClusterIndex]] merge — the cluster-keyed
    * twin of the doc_id tombstone table.
    */
  def staleClusterTable(table: String): String = s"${table}_stale_clusters"

  /** The cluster index's LIVE assignment rows: the bare bucketed table
    * minus doc_id takedown tombstones minus rows of clusters an upsert
    * superseded. Both filters are broadcast anti-joins of tiny side
    * tables, so the scan's cluster_id bucket partitioning SURVIVES and
    * every cluster-keyed consumer still plans zero hash exchanges
    * (spec-asserted post-upsert). Safe forever, not just until
    * compaction: a superseded cluster id can never come back to life —
    * cluster ids are component-min doc_ids and labels only ever
    * decrease, so once cluster c merged into m < c, any future cluster
    * containing c's docs has id ≤ m < c.
    */
  private[graft] def liveClusterRows(spark: org.apache.spark.sql.SparkSession,
                                     table: String): DataFrame = {
    val t = liveIndexRows(spark, table)
    if (spark.catalog.tableExists(staleClusterTable(table)))
      t.join(
        broadcast(spark.table(staleClusterTable(table)).select("cluster_id")),
        Seq("cluster_id"), "left_anti")
    else t
  }

  /** Staging directory for a cluster-index upsert's pending commit —
    * single-writer (the index contract) ⇒ at most one in flight per
    * table. Lives next to the table under the warehouse, so the next
    * writer finds it after a crash.
    */
  private[graft] def upsertStagingDir(spark: org.apache.spark.sql.SparkSession,
                                      table: String): String = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    s"${wh.stripSuffix("/")}/${table}_upsert_staging"
  }

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Durably COMMIT an upsert's two writes BEFORE applying either: the
    * stale cluster ids and the re-append rows land in a staging dir via
    * write-everything-then-one-atomic-rename. This closes the
    * intra-merge loss window: previously a crash between the
    * stale-mark and the bucketed re-append dropped the superseded
    * clusters' member rows permanently (the live view anti-joins the
    * stale ids, so a replayed merge could never see those members
    * again). With the commit staged first, every crash lands in one of
    * two recoverable states — before the rename (nothing applied, the
    * live view untouched, a replay recomputes from scratch) or after
    * it (both frames durable, [[applyStagedUpsert]] folds them in
    * idempotently — called here on the happy path and by the NEXT
    * writer on entry as crash recovery).
    */
  private[graft] def stageUpsert(spark: org.apache.spark.sql.SparkSession,
                                 table: String, staleIds: DataFrame,
                                 rows: DataFrame, numBuckets: Int): Unit = {
    val dir = upsertStagingDir(spark, table)
    val tmp = s"$dir.tmp"
    val fs = hadoopFs(spark, dir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    require(!fs.exists(p(dir)),
      s"stageUpsert: pending staging at $dir — recovery must fold it first")
    fs.delete(p(tmp), true)
    staleIds.write.parquet(s"$tmp/stale")
    rows.write.parquet(s"$tmp/rows")
    // the bucket spec the re-append MUST use rides with the commit:
    // recovery runs under whatever caller finds the staging, and a
    // mismatched bucketBy at append time fails loudly — wedging recovery
    // until invoked with the original count if it weren't recorded here
    import spark.implicits._
    Seq(numBuckets).toDF("num_buckets").coalesce(1).write.parquet(s"$tmp/meta")
    require(fs.rename(p(tmp), p(dir)), s"staging commit rename failed: $dir")
  }

  /** Fold a COMMITTED upsert staging into the index, then drop it —
    * idempotent, so it doubles as crash recovery for every window
    * inside the apply:
    *
    *  - the stale-id append is inert under duplication (the live
    *    view's anti-join reads ids as a set; compaction clears dups);
    *  - the row re-append anti-joins the bare table on
    *    (doc_id, cluster_id) first, which is SOUND because component
    *    labels strictly DECREASE (a cluster id is its component-min
    *    doc_id, and merges only lower minima) — a staged (doc, label)
    *    pair can already exist in the table only if this same staged
    *    apply (or a fully-applied replay of the same batch) put it
    *    there. A crash mid-append leaves at most committed part files,
    *    and the per-row anti-join resumes exactly the missing rows.
    *
    * Returns true iff a committed staging existed. The residual
    * multi-writer story is still a table format's (Delta/Iceberg
    * MERGE) — this protocol assumes the single-writer contract every
    * index-maintenance op here states.
    */
  private[graft] def applyStagedUpsert(spark: org.apache.spark.sql.SparkSession,
                                       table: String,
                                       numBuckets: Int = 8): Boolean = {
    val dir = upsertStagingDir(spark, table)
    val fs = hadoopFs(spark, dir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    if (!fs.exists(p(dir))) return false
    // the bucket count the crashed upsert STAGED under, not the
    // caller's: recovery may run from a caller configured differently,
    // and appendBucketed fails loudly on a mismatched bucket spec
    val buckets =
      if (fs.exists(p(s"$dir/meta")))
        graft.sources.Tables.parquet(spark, s"$dir/meta").head()
          .getAs[Int]("num_buckets")
      else numBuckets
    graft.sources.Tables.parquet(spark, s"$dir/stale")
      .write.mode("append").format("parquet")
      .saveAsTable(staleClusterTable(table))
    val rows = graft.sources.Tables.parquet(spark, s"$dir/rows")
    val todo = rows.join(
      spark.table(table).select("doc_id", "cluster_id"),
      Seq("doc_id", "cluster_id"), "left_anti")
    graft.sources.Sinks.appendBucketed(
      todo, table, Seq("cluster_id"), buckets)
    fs.delete(p(dir), true)
    true
  }

  /** Drop any pending upsert staging for `table` — a full rebuild
    * supersedes an in-flight commit (its frames were computed against
    * the replaced state). Called by the writeIndex paths.
    */
  private[graft] def clearUpsertStaging(spark: org.apache.spark.sql.SparkSession,
                                        table: String): Unit = {
    val dir = upsertStagingDir(spark, table)
    hadoopFs(spark, dir).delete(new org.apache.hadoop.fs.Path(dir), true)
    ()
  }

  /** Reset EVERY side artifact of a cluster index ahead of a full
    * rebuild: the pending upsert staging, the `_stale_clusters` side
    * table, and the doc_id tombstones. The stale drop is
    * correctness-bearing, not hygiene: a rebuild resets label history,
    * so a surviving stale id from the PREVIOUS generation can equal a
    * freshly rebuilt cluster id — and [[liveClusterRows]]' anti-join
    * would then silently drop live rows. Tombstones are takedowns
    * against the replaced generation for the same reason (the rebuild's
    * input corpus is the post-takedown truth).
    */
  private[graft] def resetClusterIndexSides(spark: org.apache.spark.sql.SparkSession,
                                            table: String): Unit = {
    clearUpsertStaging(spark, table)
    spark.sql(s"DROP TABLE IF EXISTS ${staleClusterTable(table)}")
    // tombstones, batch marks, staged appends, the lease — shared with
    // every other table-index family
    graft.sources.IndexMaintenance.resetTableIndexSides(spark, table)
    ()
  }

  /** Persist an arriving batch's cluster merge — the WRITE-BACK
    * [[clusterIncremental]] lacked: the compute there is batch-sized
    * but the only persist path was a full [[writeClusterIndex]]
    * rebuild (corpus-sized I/O for a batch-sized change). This is the
    * merge-on-read spelling of a partition-scoped rewrite, and it
    * costs strictly less I/O than rewriting touched buckets:
    *
    *  1. the merged labels come from the SAME contracted graph as
    *     [[clusterIncremental]] (batch↔corpus edges off the persisted
    *     band index, corpus endpoints contracted to stored cluster
    *     ids) — the corpus is never re-shingled;
    *  2. clusters whose label CHANGED (they merged into a smaller id)
    *     append their id to the `_stale_clusters` side table; every
    *     reader goes through [[liveClusterRows]], whose broadcast
    *     anti-join drops their old rows at probe time;
    *  3. the superseded clusters' member rows re-append under the
    *     merged label — quality CARRIED from the old index rows, so
    *     no corpus text is re-read — together with the batch docs
    *     (merged label, else themselves as singletons), through the
    *     same (cluster_id, numBuckets) bucket spec the build used.
    *
    * Post-upsert, live rows ≡ [[clusterIncremental]]'s output over
    * corpus ∪ batch (spec-asserted), keepBestIndexed / clusterStats /
    * splitFromIndex / weights plans stay exchange-free, and
    * [[compactClusterIndex]] folds both side tables into fresh files
    * out of band. Crash safety is the STAGED COMMIT ([[stageUpsert]] /
    * [[applyStagedUpsert]]): both writes are durable behind one atomic
    * rename before the stale-mark, so no crash point loses member rows
    * and replay/recovery folds idempotently (spec-simulated at every
    * window). Single-writer, one apply per batch, like every
    * index-maintenance op here (plain parquet catalogs have no
    * multi-writer story — on a cluster this is a Delta/Iceberg MERGE
    * commit).
    */
  def upsertClusterIndex(spark: org.apache.spark.sql.SparkSession,
                         minhashTable: String, clusterTable: String,
                         newDocs: DataFrame, corpus: DataFrame,
                         maxIter: Int = 8, numBuckets: Int = 8): Unit =
                         graft.sources.IndexMaintenance
                           .withTableWriterLease(spark, clusterTable) {
    // crash recovery: fold any committed-but-unapplied predecessor
    // commit before reading the live view (single-writer contract)
    applyStagedUpsert(spark, clusterTable, numBuckets)
    val assign = liveClusterRows(spark, clusterTable)
      .select("doc_id", "cluster_id", "quality")
    // batch-sized; materialized once for the same three consumers as
    // [[clusterIncremental]]'s edge table
    val edges = incrementalEdges(spark, minhashTable, clusterTable,
      newDocs, corpus)
      .localCheckpoint(true)
    val nodes = edges.select(col("a").as("doc_id"))
      .unionByName(edges.select(col("b").as("doc_id")))
      .unionByName(newDocs.select(col("doc_id")))
      .distinct()
    val merged = clusterPairs(edges, nodes, maxIter)
      .select(col("doc_id").as("node"), col("cluster_id").as("new_label"))
    // corpus clusters whose component min moved below them: their old
    // rows are superseded. A node set is near-dup-edge-sized, so this
    // whole frame is tiny.
    val stale = merged
      .filter(col("new_label") =!= col("node"))
      .join(assign.select(col("cluster_id").as("node")).distinct(), "node")
      .select(col("node").as("cluster_id"), col("new_label"))
      .localCheckpoint(true)
    // member rows of superseded clusters, re-labeled — quality rides
    // along from the index, the corpus is not touched
    val relabeled = assign
      .join(broadcast(stale), Seq("cluster_id"))
      .select(col("doc_id"), col("new_label").as("cluster_id"), col("quality"))
    val batchRows = newDocs
      .select(col("doc_id"),
        graft.functions.TextAnalysis.qualityCol(col("text")).as("quality"))
      .join(merged.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("doc_id")).as("cluster_id"),
        col("quality"))
    // STAGED COMMIT ([[stageUpsert]]): both frames are made durable
    // BEFORE the stale-mark touches the live view. This subsumes the
    // old materialize-before-mark ordering rule (the staging write IS
    // the materialization — `relabeled`'s lazy scan executes here,
    // while the live view still shows the rows being relabeled) AND
    // closes the crash window between the mark and the re-append.
    val rows = relabeled.unionByName(batchRows)
    stageUpsert(spark, clusterTable,
      stale.select("cluster_id").distinct(), rows, numBuckets)
    applyStagedUpsert(spark, clusterTable, numBuckets)
    ()
  }

  /** Fold BOTH of the cluster index's side tables (doc_id tombstones,
    * stale cluster ids) into fresh bucketed files — the out-of-band
    * bound on [[liveClusterRows]]' broadcast sizes after many
    * takedowns/upserts; correctness never needs it.
    */
  def compactClusterIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, numBuckets: Int = 8): Unit = {
    graft.sources.IndexMaintenance.compact(spark, table) { (live, tmp) =>
      val liveMinusStale =
        if (spark.catalog.tableExists(staleClusterTable(table)))
          live.join(
            broadcast(spark.table(staleClusterTable(table)).select("cluster_id")),
            Seq("cluster_id"), "left_anti")
        else live
      graft.sources.Sinks.rewriteBucketed(
        liveMinusStale, tmp, Seq("cluster_id"), numBuckets)
    }
    spark.sql(s"DROP TABLE IF EXISTS ${staleClusterTable(table)}")
  }

  /** SoftDeDup-style duplicate DOWNWEIGHTING — the keep-everything
    * alternative to [[keepBest]]'s hard drop: every document stays in
    * the corpus but carries sampling weight 1/|cluster|, so a
    * 40-member boilerplate family contributes one document's worth of
    * expected training mass while unique docs keep weight 1. The
    * weight is floor(10⁶/size)/10⁶ — pure integer division, no float
    * rounding convention to diverge on. One size aggregate + one join
    * over the (doc, cluster) assignment.
    */
  def softWeights(assignment: DataFrame): DataFrame = {
    val sizes = assignment.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    assignment.select("doc_id", "cluster_id")
      .join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (expr("(1000000 div cluster_size)").cast("double") / 1000000.0).as("weight"))
      .orderBy("doc_id")
  }

  /** Direct form: cluster in-query (oracle anchor). */
  def dedupWeights(documents: DataFrame): DataFrame =
    softWeights(minhashClusters(documents).select("doc_id", "cluster_id"))

  /** Indexed form: weights off the PERSISTED cluster assignment — a
    * narrow read + two small aggregates, no LSH anywhere (the same
    * cluster-once-reuse-everywhere lifecycle as keepBestIndexed).
    */
  def dedupWeightsFromIndex(spark: org.apache.spark.sql.SparkSession,
                            table: String): DataFrame =
    softWeights(liveClusterRows(spark, table).select("doc_id", "cluster_id"))

  /** SoftDeDup REALIZED: the deterministic sample the [[softWeights]]
    * table implies — each doc kept iff its id-keyed md5 bucket
    * falls under its cluster's weight (`bucket·10⁴ < ⌊10⁶/size⌋`, all
    * integer), so every near-dup family contributes ≈ one doc's
    * expected mass while WHICH doc survives stays a pure function of
    * the record (re-runs, re-partitions, and both engines agree — the
    * sampling-family md5 convention applied to dedup weights). Scan
    * work on top of the cluster assignment; singletons always keep
    * (bucket < 100 ≤ weight 10⁶/1).
    */
  def weightedSample(documents: DataFrame): DataFrame =
    weightedSampleOf(minhashClusters(documents).select("doc_id", "cluster_id"))

  private def weightedSampleOf(assignment: DataFrame): DataFrame =
    softWeights(assignment)
      .withColumn("bucket", Sampling.hashBucket(col("doc_id")))
      .withColumn("weight_ppm", expr("1000000 div cluster_size"))
      .filter(col("bucket") * 10000 < col("weight_ppm"))
      .select("doc_id", "cluster_id", "cluster_size", "bucket")
      .orderBy("doc_id")

  /** [[weightedSample]] off the PERSISTED cluster assignment — the
    * same narrow-read lifecycle as [[dedupWeightsFromIndex]]: no LSH
    * in the plan, same oracle as the direct form.
    */
  def weightedSampleFromIndex(spark: org.apache.spark.sql.SparkSession,
                              table: String): DataFrame =
    weightedSampleOf(liveClusterRows(spark, table).select("doc_id", "cluster_id"))

  /** The LSH geometry's theoretical S-CURVE — P(candidate | Jaccard s)
    * = 1 − (1 − s^r)^b for the production (r rows per band, b bands),
    * tabulated at 5% steps: the DESIGN table read next to the measured
    * [[pairSimHistogram]] and [[dedupPrCurve]] (theory says what the
    * geometry CAN catch; the histogram says what the corpus HAS). No
    * float pow: both exponentiations are repeated squarings with a 6dp
    * decimal re-round per step (the embed_pca_power determinism
    * template), so every value is engine-exact. Constant 20-row
    * output; r and b must be powers of two for the squaring ladder.
    */
  def lshSCurve(spark: org.apache.spark.sql.SparkSession,
                r: Int = 8, b: Int = 8): DataFrame = {
    require(r > 0 && (r & (r - 1)) == 0 && b > 0 && (b & (b - 1)) == 0,
      s"r and b must be powers of two for the squaring ladder, got r=$r b=$b")
    def sq6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round((c * c).cast("decimal(38,12)"), 6).cast("decimal(18,6)")
    def pow6(c: org.apache.spark.sql.Column, e: Int): org.apache.spark.sql.Column =
      (1 to Integer.numberOfTrailingZeros(e)).foldLeft(c)((acc, _) => sq6(acc))
    // ×0.01 as exact decimal multiplication — decimal DIVISION goes
    // through double in DuckDB, so the oracle could not mirror it
    val s6 = (col("s_pct").cast("decimal(18,6)") *
      lit(java.math.BigDecimal.valueOf(1, 2))).cast("decimal(18,6)")
    spark.range(1, 21)
      .select((col("id") * 5).cast("int").as("s_pct"))
      .withColumn("p_band", pow6(s6, r))
      .withColumn("p_candidate",
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,6)") -
          pow6(lit(java.math.BigDecimal.ONE).cast("decimal(18,6)") - col("p_band"), b))
          .cast("decimal(18,6)"))
      .select(col("s_pct"), col("p_band").cast("double").as("p_band"),
        col("p_candidate").cast("double").as("p_candidate"))
      .orderBy("s_pct")
  }

  /** Connected components over an (a, b) near-dup pair list: every doc
    * in `allDocs` gets the min doc_id of its component (docs without
    * edges are their own singleton). Public so any pair source
    * (simhash, embedding cosine, …) can feed the same clustering.
    */
  def clusterPairs(pairs: DataFrame, allDocs: DataFrame, maxIter: Int = 8): DataFrame =
    clusterPairsWith(pairs, allDocs, maxIter, maxDriverEdges = 2000000L)

  /** [[clusterPairs]] with the driver-path edge gate given — package-
    * visible so the spec can force the distributed path on a small
    * graph and pin both paths value-identical.
    */
  private[graft] def clusterPairsWith(pairs: DataFrame, allDocs: DataFrame,
                                      maxIter: Int,
                                      maxDriverEdges: Long): DataFrame = {
    // SIZE-GATED exact path: a near-dup edge set that fits the driver
    // (retained state two primitive long arrays, 16 bytes/edge; the
    // gate is 2M edges ≈ 32 MB plus the union-find maps — the broadcast-
    // relation class of driver state; the collected Row array is
    // transient, dropped right after the primitive decode) is
    // clustered with a min-root union-find and the labels broadcast
    // back. This replaces ~10 barrier jobs (per-round join/checkpoint/
    // sum at a fixed wall cost regardless of edge count) with ONE
    // limit(max+1) collect (the
    // limit truncates the pipeline early when the set is huge, and a
    // full result ≤ max proves the gate held — no separate
    // checkpoint/count jobs) + one broadcast join. It is also EXACT at
    // any component diameter — the distributed propagation below is
    // bounded by maxIter pointer-jump rounds (diameter ≲ 2^maxIter),
    // which a chain-shaped component can exceed. Above the gate (true
    // 100 TB edge volumes) the distributed path runs unchanged.
    val spark = pairs.sparkSession
    val probeLimit = math.min(maxDriverEdges + 1L, Int.MaxValue.toLong - 1L).toInt
    // The narrowed pair frame is PERSISTED across the gate probe: the
    // probe's executeTake computes (and caches) a prefix of its
    // partitions, so when the edge set exceeds the gate the
    // distributed path's checkpoint resumes from the cached partitions
    // instead of re-running the whole pair pipeline (the LSH/cosine
    // source) a second time. Both branches unpersist before returning.
    val pairsNarrow = pairs
      .filter(col("a").isNotNull && col("b").isNotNull)
      .select(col("a").cast("long"), col("b").cast("long"))
      .persist()
    val probeRows = pairsNarrow.limit(probeLimit).collect()
    val nProbe = probeRows.length
    if (nProbe <= maxDriverEdges) {
      import spark.implicits._
      pairsNarrow.unpersist()
      // decode straight into primitive long arrays (a boxed
      // Array[(Long, Long)] costs ~70+ bytes/edge on the driver heap —
      // ~150 MB at the 2M gate — where two long arrays cost 32 MB; the
      // Row array itself is transient and dropped after this loop)
      val ea = new Array[Long](nProbe)
      val eb = new Array[Long](nProbe)
      var ri = 0
      while (ri < nProbe) {
        val r = probeRows(ri)
        ea(ri) = r.getLong(0); eb(ri) = r.getLong(1)
        ri += 1
      }
      // min-root union-find: the smaller id always becomes the root,
      // so every root IS its component's min doc_id — with path
      // compression lookups stay near-constant
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x0: Long): Long = {
        var x = x0
        var px = parent.getOrElse(x, x)
        while (px != x) {
          val gp = parent.getOrElse(px, px)
          parent(x) = gp
          x = px; px = gp
        }
        x
      }
      var ei = 0
      while (ei < nProbe) {
        val ra = find(ea(ei)); val rb = find(eb(ei))
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
        ei += 1
      }
      val nodes = new scala.collection.mutable.LongMap[Long]()
      ei = 0
      while (ei < nProbe) { nodes(ea(ei)) = 0L; nodes(eb(ei)) = 0L; ei += 1 }
      val labelRows = nodes.keys.toArray.map(x => (x, find(x))).toSeq
      val labelsDf = labelRows.toDF("doc_id", "label")
      return allDocs.select(col("doc_id"))
        .join(broadcast(labelsDf), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("cluster_id"),
          (coalesce(col("label"), col("doc_id")) === col("doc_id")).as("is_canonical"))
        .orderBy("doc_id")
    }
    // DISTRIBUTED path (edge set larger than the driver gate): the
    // pair source (a whole LSH pipeline) is referenced in every
    // propagation round — materialize it ONCE, single-direction (half
    // the rows of the old both-direction table; the swap union is
    // derived from the checkpoint). The checkpoint reads the probe's
    // cached partitions where present, so the pipeline still runs at
    // most once end to end. (The narrowed frame — null edges dropped,
    // ids cast to long — is what the driver path clusters too, so the
    // two paths see identical edge semantics.)
    val pairs0 = pairsNarrow.localCheckpoint(true)
    pairsNarrow.unpersist()
    val nEdges = pairs0.count()
    val edges0 = pairs0.unionByName(
      pairs0.select(col("b").as("a"), col("a").as("b"))).distinct()
      .localCheckpoint(true)
    // Propagation parallelism SIZED BY THE EDGE COUNT (the round-11
    // fixed coalesce(1) was right for gate-scale edge sets but a
    // serial barrier at 100 TB edge volumes): ~250k edges per
    // partition, clamped to the session's shuffle parallelism.
    val sp = edges0.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val p = math.max(1, math.min(sp, ((2 * nEdges - 1) / 250000L + 1L).toInt))
    val edges = edges0.coalesce(math.max(p, 4))
    // start: every doc labels itself with the min direct neighbor
    var labels = edges.groupBy(col("a").as("doc_id"))
      .agg(min(col("b")).as("min_nbr"))
      .select(col("doc_id"), least(col("min_nbr"), col("doc_id")).as("label"))
      .coalesce(p).localCheckpoint(true)
    // Convergence probe: labels only ever decrease (least of self,
    // neighbor-min, and jump target), so the label sum is strictly
    // decreasing until the fixed point — an unchanged sum IS
    // convergence. At the fixed point every edge has label(a) ≤
    // label(b) in BOTH directions (edges are symmetric), so labels
    // are constant per component, and since labels are always ids of
    // reachable members the constant is the component min. Decimal
    // accumulator: a 100 TB corpus sums long ids past 2^63.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      // label(d) <- min(label(d), min over neighbors n of label(n))
      val propagated = edges
        .join(labels.withColumnRenamed("doc_id", "b"), "b")
        .groupBy(col("a").as("doc_id"))
        .agg(min(col("label")).as("nbr_label"))
        .join(labels, "doc_id")
        .select(col("doc_id"), least(col("label"), col("nbr_label")).as("label"))
      // pointer jump: label(d) <- label(label(d)) — path compression,
      // without which propagation is one hop per iteration and long
      // chains need diameter-many rounds; with it reach ~doubles per
      // round, so maxIter rounds cover diameter ~2^maxIter
      val byLabel = propagated.select(col("doc_id").as("label"), col("label").as("label2"))
      labels = propagated.join(byLabel, Seq("label"), "left")
        .select(col("doc_id"), coalesce(col("label2"), col("label")).as("label"))
      // Materialize + convergence-probe every OTHER round, not every
      // round: each barrier (an eager localCheckpoint job plus the
      // one-task sum probe) costs more wall time than the tiny round
      // itself, and Spark's ReusedExchange keeps the fused two-round
      // DAG linear — the three references to the previous labels all
      // resolve to the same materialized scan, and the repeated
      // subtrees inside one round dedupe to one execution each. The
      // lineage still truncates every two rounds, so the logical plan
      // stays bounded (without truncation it grows 3^rounds copies of
      // the whole LSH pipeline). On a cluster this would be
      // checkpoint() to reliable storage.
      // probe on EVEN rounds: most near-dup graphs are stars/short
      // chains whose labels are final after the init neighbor-min, so
      // the round-0 probe exits after a single propagation round
      if (i % 2 == 0 || i == maxIter - 1) {
        labels = labels.coalesce(p).localCheckpoint(true)
        val s = labelSum(labels)
        // labels only ever decrease, so an unchanged sum across TWO
        // rounds is still exactly the fixed point
        converged = s == prevSum
        prevSum = s
      }
      i += 1
    }
    // docs with no near-dup edge are their own singleton cluster
    allDocs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"),
        (coalesce(col("label"), col("doc_id")) === col("doc_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------

  /** Near-dup pairs by 64-bit SimHash, pigeonhole-EXACT recall at
    * `maxHamming`, with CORPUS-ADAPTIVE banding — the round-12
    * scaling audit's catch (the embedBandWidth lesson applied to
    * hamming space):
    *
    *  - small corpora (n ≤ 16384): `maxHamming + 1` chunks of
    *    64/(h+1) bits — a pair within hamming h agrees exactly on ≥ 1
    *    chunk. Cheapest explode (h+1 rows/doc), but chunk buckets are
    *    only ~2^16 wide at h = 3, so BACKGROUND collisions (unrelated
    *    docs whose hashes collide on one chunk) grow as n²/2^16 —
    *    measured 16.1× time at 10× docs and 62× at 30×: quadratic
    *    drift, not an option past gate scale.
    *  - large corpora: block-COMBINATION keys (the Manku/Jain/Das
    *    Sarma permuted-table scheme, WWW'07): 64 bits split into
    *    `maxHamming + 3` blocks; within hamming h at most h blocks
    *    differ, so at least 3 agree — the pair shares at least one of
    *    the C(h+3, 3) three-block combination keys, so recall stays
    *    pigeonhole-exact while each key carries ~3·64/(h+3) bits
    *    (~32 for h = 3): background collisions fall to ~n²/2^32 and
    *    essentially only true near-dups reach the verify. The explode
    *    is C(h+3, 3) rows/doc (20 at h = 3) — scan-LINEAR cost buying
    *    linear candidate volume.
    *
    * Both schemes feed the same exact hamming verify on the pair's
    * two longs, so the OUTPUT is identical under either and the
    * brute-force oracle is untouched; the one `count()` that picks
    * the scheme is the standard LSH planning step (ingest-time work
    * in a deployment, where the banded table would persist like
    * [[writeMinhashIndex]]).
    */
  def simhash(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    // The combo scheme needs maxHamming >= 1: at h = 0 it would pack 3
    // blocks of 22 bits into 66 > 63 key bits. h = 0 means EXACT hash
    // equality, so the (h+1)-chunk scheme (one full-64-bit band — a
    // plain hash-groupBy) is already the optimal plan at any corpus
    // size; the scheme must not flip with n for an argument combo
    // can't serve.
    simhashWith(documents, maxHamming,
      combo = maxHamming >= 1 && documents.count() > 16384)

  /** [[simhash]] with the banding scheme forced — package-visible so
    * the spec can pin both schemes value-identical on one corpus.
    */
  private[graft] def simhashWith(documents: DataFrame, maxHamming: Int,
                                 combo: Boolean): DataFrame = {
    val docs = documents.select(col("doc_id"),
      HashExprs.simhash64(split(norm(col("text")), " ")).as("sim"))
    // join-key repartition before the self-join — see lshPairs: the
    // quadratic candidate join must never run at the scan's file-count
    // parallelism under a broadcast plan
    val banded =
      (if (combo) comboBanded(docs, maxHamming)
       else chunkBanded(docs, maxHamming))
        .repartition(col("band"), col("key"))
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.sim").as("sim_a"), col("y.sim").as("sim_b"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
      .orderBy("a", "b")
  }

  /** The 64 bit positions split into `n` near-even runs. */
  private def bitBounds(n: Int): IndexedSeq[Int] = (0 to n).map(i => i * 64 / n)

  private def bitRun(sim: Column, lo: Int, hi: Int): Column = {
    val len = hi - lo
    val mask = if (len == 64) -1L else (1L << len) - 1L
    shiftrightunsigned(sim, lo).bitwiseAND(lit(mask))
  }

  /** (doc_id, sim, band, key) under the (h+1)-chunk scheme. */
  private def chunkBanded(docs: DataFrame, maxHamming: Int): DataFrame = {
    val numChunks = maxHamming + 1
    val bounds = bitBounds(numChunks)
    docs.select(col("doc_id"), col("sim"),
      posexplode(array((0 until numChunks).map(c =>
        bitRun(col("sim"), bounds(c), bounds(c + 1))): _*)))
      .toDF("doc_id", "sim", "band", "key")
  }

  /** (doc_id, sim, band, key) under the 3-of-(h+3) block-combination
    * scheme: band = combination index, key = the three block values
    * packed into fixed-width lanes of one long.
    */
  private def comboBanded(docs: DataFrame, maxHamming: Int): DataFrame = {
    val b = maxHamming + 3
    val bounds = bitBounds(b)
    val widthMax = (0 until b).map(i => bounds(i + 1) - bounds(i)).max
    require(3 * widthMax <= 63,
      s"packed 3-block key overflows a long: $b blocks of <= $widthMax bits")
    val combos = (0 until b).combinations(3).toSeq
    def key(combo: Seq[Int]): Column =
      combo.foldLeft(lit(0L))((acc, i) =>
        shiftleft(acc, widthMax).bitwiseOR(bitRun(col("sim"), bounds(i), bounds(i + 1))))
    docs.select(col("doc_id"), col("sim"),
      posexplode(array(combos.map(key): _*)))
      .toDF("doc_id", "sim", "band", "key")
  }

  // ---------------------------------------------------------------
  // Embedding cosine near-dup
  // ---------------------------------------------------------------

  /** Deterministic random hyperplanes (LCG, fixed seed) for
    * sign-random-projection LSH over embeddings.
    */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    var x = 6364136223846793005L
    def next(): Double = {
      x = x * 2862933555777941757L + 3037000493L
      (x >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }
    Seq.fill(nPlanes)(Seq.fill(dim)(next()))
  }

  /** Embedding-cosine near-dup pairs: sign-projection signature →
    * 4 bucket bands → pair join within buckets → exact cosine
    * verify ≥ `threshold`. Same LSH shape as MinHash: no all-pairs
    * comparison, shuffles only on bucket keys.
    *
    * BAND WIDTH SCALES WITH THE CORPUS (the round-11 scaling audit's
    * catch): a fixed 4-bit band has only 16 buckets, so bucket
    * occupancy grows with n and candidate pairs grow as n²/128 —
    * measured 153× time at 10× vectors. The width is now
    * ceil(log₂(n/`targetBucket`)) clamped to [4, 16], which pins the
    * EXPECTED bucket occupancy at `targetBucket` and the candidate
    * volume at ~4·n·targetBucket/2 — linear in n. The first 16
    * hyperplanes are shared across widths (one sequential PRNG), so
    * corpora small enough for w = 4 (gate scales) keep the historical
    * buckets bit-for-bit. The trade is recall at a FIXED cosine
    * declining as bands widen (P(band match) = p_cos^w): 4-bit bands
    * give ~50% recall at cosine ≈0.45 and >99% at ≥0.9; at w = 8 the
    * ≥0.9 figure is ~75% — a deployment needing pinned recall at 100
    * TB should raise the band COUNT alongside (or use the IVF
    * centroid path, [[graft.operators.Similarity]]). The one driver
    * `count()` sizes the index — ingest-time work, the standard LSH
    * planning step.
    */
  def embeddingNearDup(embeddings: DataFrame, dim: Int = 64,
                       threshold: Double = 0.35,
                       targetBucket: Int = 128): DataFrame = {
    val w = embedBandWidth(embeddings.count(), targetBucket)
    // join-key repartition before the self-join — see lshPairs
    cosinePairVerify(
      bucketCandidatePairs(embedBandTable(embeddings, dim, w)
        .repartition(col("band"), col("bucket"))).distinct(),
      embeddings, threshold)
  }

  /** ceil(log₂(n/targetBucket)) clamped to [4, 16] — the occupancy-
    * pinning band width shared by the direct and indexed forms. */
  private[graft] def embedBandWidth(n: Long, targetBucket: Int): Int = {
    val q = math.max(1L, n / targetBucket)
    // ceil(log2(q)) via the bit length of q−1; q ≤ 1 → 0
    math.min(16, math.max(4,
      if (q <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)))
  }

  /** The (vec_id, band, bucket) band table at width `w` — band
    * explode stays NARROW (ids + bucket only); vectors never ride the
    * bucket shuffle. */
  private def embedBandTable(embeddings: DataFrame, dim: Int, w: Int): DataFrame = {
    val mask = (1L << w) - 1
    val bits = HashExprs.signProjBits(col("embedding"), hyperplanes(4 * w, dim))
    embeddings.select(col("vec_id"), bits.as("bits"))
      .select(col("vec_id"),
        posexplode(array((0 until 4).map(c =>
          shiftrightunsigned(col("bits"), c * w).bitwiseAND(lit(mask))): _*)))
      .toDF("vec_id", "band", "bucket")
  }

  /** Raw within-bucket id pairs (callers dedupe): over the persisted
    * bucketed index this self-join plans zero exchanges — the
    * [[bucketCandidates]] contract, embedding-band edition. */
  private[graft] def bucketCandidatePairs(banded: DataFrame): DataFrame =
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))

  /** Exact-cosine verification of candidate id pairs: the 64-float
    * embeddings join back on the distinct candidate ids only. */
  private def cosinePairVerify(cand: DataFrame, embeddings: DataFrame,
                               threshold: Double): DataFrame = {
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(vecs.select(col("vec_id").as("a"), col("embedding").as("va")), "a")
      .join(vecs.select(col("vec_id").as("b"), col("embedding").as("vb")), "b")
      .withColumn("cosine", round(HashExprs.cosineSim(col("va"), col("vb")), 4))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
      .orderBy("a", "b")
  }

  /** Persist the embedding band table as a bucketed catalog table —
    * the [[writeMinhashIndex]] lifecycle for the embedding near-dup:
    * sign projections are computed once at ingest, the table is
    * bucketed on EXACTLY the candidate join's key set (band, bucket)
    * so the indexed self-join plans zero exchanges, and the chosen
    * band width (sized from the corpus at write time — the one
    * `count()` is ingest work) is recorded in table properties so a
    * drifted re-ingest is an error rather than silent recall
    * corruption.
    */
  def writeEmbedBandIndex(embeddings: DataFrame, table: String,
                          numBuckets: Int = 8, dim: Int = 64,
                          targetBucket: Int = 128): Unit = {
    graft.sources.IndexMaintenance.resetTableIndexSides(
      embeddings.sparkSession, table) // full rebuild drops side artifacts
    val w = embedBandWidth(embeddings.count(), targetBucket)
    graft.sources.Sinks.writeBucketed(
      embedBandTable(embeddings, dim, w), table, Seq("band", "bucket"),
      numBuckets)
    embeddings.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('graft.embed.w'='$w','graft.embed.dim'='$dim')")
  }

  /** Index MAINTENANCE: append an arriving vector batch's band rows to
    * the persisted embed band index — the [[appendToMinhashIndex]]
    * check→extend loop for the embedding family, so the NEXT
    * incremental check ([[embeddingNearDupAgainstIndex]]) sees this
    * batch. The batch is projected at the width the index RECORDED
    * (geometry from table properties — never re-derived from the batch
    * size, which would drift the bucket keys), and a dim mismatch is
    * an error, not silent recall corruption. Spark itself rejects a
    * mismatched bucketBy layout.
    */
  def appendToEmbedBandIndex(spark: org.apache.spark.sql.SparkSession,
                             table: String, newVecs: DataFrame,
                             numBuckets: Int = 8, dim: Int = 64): Unit =
    graft.sources.IndexMaintenance.withTableWriterLease(spark, table) {
      graft.sources.Sinks.appendBucketed(
        embedAppendRows(spark, table, newVecs, dim),
        table, Seq("band", "bucket"), numBuckets)
    }
    // saveAsTable(append) keeps existing properties; nothing to re-stamp

  /** The batch's band rows for an embed-band-index append, projected at
    * the width the index RECORDED — the STAGE step shared by
    * [[appendToEmbedBandIndex]] and the exactly-once streaming append.
    */
  private[graft] def embedAppendRows(spark: org.apache.spark.sql.SparkSession,
                                     table: String, newVecs: DataFrame,
                                     dim: Int = 64): DataFrame = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val w = props.getOrElse("graft.embed.w",
      sys.error(s"$table lacks graft.embed.w — not an embed band index")).toInt
    val idxDim = props.getOrElse("graft.embed.dim", dim.toString).toInt
    require(idxDim == dim,
      s"embed index geometry drift on $table: built at dim=$idxDim, " +
        s"append offered dim=$dim — rebuild the index or match its geometry")
    embedBandTable(newVecs, dim, w)
  }

  /** [[embeddingNearDup]] over the persisted band index: candidates
    * come from the bucketed table (shuffle-free self-join — both
    * sides carry the same HashPartitioning on the bucket columns,
    * which are exactly the join keys), and the embeddings frame is
    * consulted only to cosine-verify the candidate ids. Tombstoned
    * takedowns ([[deleteFromEmbedBandIndex]]) drop out via the shared
    * live-rows view. Same output contract as the direct form (shared
    * oracle). CONTRACT: the frame must cover every vec_id in the
    * index — the verify step inner-joins candidates to it.
    */
  def embeddingNearDupIndexed(spark: org.apache.spark.sql.SparkSession,
                              table: String, embeddings: DataFrame,
                              threshold: Double = 0.35): DataFrame =
    cosinePairVerify(
      bucketCandidatePairs(
        graft.sources.IndexMaintenance.liveRows(spark, table, "vec_id"))
        .distinct(),
      embeddings, threshold)

  /** Incremental near-dup check of an ARRIVING vector batch against
    * the persisted corpus band index — [[minhashLshAgainstIndex]]'s
    * contract on embeddings: only the batch is projected (at the
    * width the index RECORDED — geometry read from table properties,
    * a dim mismatch is an error), candidates come from the bucket
    * join against the index, and `embeddings` (corpus ∪ batch) is
    * consulted only to cosine-verify candidate ids. Output
    * orientation: a = batch vec, b = indexed corpus vec. Empty
    * output means the whole batch is novel.
    */
  def embeddingNearDupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                                   table: String, newVecs: DataFrame,
                                   embeddings: DataFrame, dim: Int = 64,
                                   threshold: Double = 0.35): DataFrame = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val w = props.getOrElse("graft.embed.w",
      sys.error(s"$table lacks graft.embed.w — not an embed band index")).toInt
    val idxDim = props.getOrElse("graft.embed.dim", dim.toString).toInt
    require(idxDim == dim,
      s"index $table was built at dim=$idxDim, probe requested dim=$dim")
    val cand = embedBandTable(newVecs, dim, w).as("x")
      .join(graft.sources.IndexMaintenance.liveRows(spark, table, "vec_id").as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    cosinePairVerify(cand, embeddings, threshold)
  }

  /** Embedding takedown for the band index — merge-on-read tombstones
    * (the shared [[graft.sources.IndexMaintenance]] mechanism, keyed
    * on vec_id): the vector's bands drop out of every later near-dup
    * check at O(batch) cost.
    */
  def deleteFromEmbedBandIndex(spark: org.apache.spark.sql.SparkSession,
                               table: String, ids: DataFrame): Unit =
    graft.sources.IndexMaintenance.tombstone(spark, table, ids, "vec_id")

  /** Fold embed-band tombstones into the bucketed band files,
    * preserving the (band, bucket) layout; the `graft.embed.*`
    * geometry properties carry over (the shared compact contract). */
  def compactEmbedBandIndex(spark: org.apache.spark.sql.SparkSession,
                            table: String, numBuckets: Int = 8): Unit =
    graft.sources.IndexMaintenance.compact(spark, table, "vec_id") { (live, tmp) =>
      graft.sources.Sinks.rewriteBucketed(live, tmp, Seq("band", "bucket"), numBuckets)
    }
}
