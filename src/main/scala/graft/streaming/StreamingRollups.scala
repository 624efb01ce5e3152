package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.runtime.universe.TypeTag

/** Structured Streaming counterparts of the batch operators.
  *
  * The reference runs its pipelines on an Airflow schedule (daily
  * batch); the streaming-native equivalent is the same rollup
  * computation as an incremental windowed aggregation with a
  * watermark, so late data is folded in without reprocessing and state
  * is bounded. `readStream → transform → writeStream` composes with
  * every batch operator in this package that is expressible under
  * streaming semantics.
  *
  * DAY-CLOSE DRIVER (the eleven indicator streams: [[rsiStream]],
  * [[macdStream]], [[keltnerStream]], [[supertrendStream]],
  * [[donchianStream]], [[movers]], [[heikinAshiStream]],
  * [[adxStream]], [[cusumStream]], [[holtStream]],
  * [[holtWintersStream]]): one private flatMapGroupsWithState loop
  * runs them all, and each indicator supplies only its initial fold
  * state and `closeDay(user, state, bar)` — the fold's step over one
  * finished day, emitting at most one point. Per series and
  * micro-batch the driver sorts the rows by (epoch-micros, event_id)
  * (groups arrive unordered) and buckets them into UTC `yyyy-MM-dd`
  * days, prices as HALF_UP cents. A tick on a LATER day than the open
  * bar closes that bar and opens a new one; a tick on the SAME day
  * updates high/low, the close when its order key (epoch-micros ‖
  * event_id, the batch min_by/max_by key) is greater than the bar's
  * last, and the open when it is less than the bar's first; a tick on
  * an already-closed day is dropped (late past the day boundary — the
  * [[transitions]] staleness trade, bounded by the upstream
  * watermark). The state is the open bar plus the fold state of
  * completed days, so a bar spans micro-batches; the event-time
  * timeout is max(last tick + idleMs, watermark + 1).
  *
  * IDLE-TIMEOUT CONVENTION (all fold-state indicator streams): a
  * series idle past `idleMs` has its state dropped WITHOUT emitting
  * the still-open day, and a series that resumes after the drop
  * re-seeds its since-inception recursion from the resume point — so
  * post-resume emissions are the recursion restarted, not the batch
  * replay of the full history. The batch-parity guarantee ("every
  * closed day bit-equal") therefore holds for any run where no series
  * goes idle past `idleMs` mid-stream (the parity specs exercise
  * exactly this regime); a monitoring deployment that must survive
  * week-long gaps should either raise `idleMs` or re-bootstrap the
  * resumed series from the persisted bar table. The timeout exists so
  * delisted/dead series cannot hold state forever — the state-bound
  * half of the 100 TB contract. [[rsiStream]] additionally offers
  * `emitOpenOnTimeout = true`, which FLUSHES the still-open day at
  * state drop instead of discarding it (spec-exercised through
  * timeout → resume) — the pattern the other fold streams would
  * follow for a deployment that prefers a final reading over silence.
  *
  * DATA-CONTRACT ASSERTIONS: the indicator streams `require` each
  * event_id inside the 12-digit order-key domain and each price inside
  * the batch bars' |cents| < 5·10⁸ tick domain, and a violation
  * fails the QUERY, not just the key — deliberate: the composite
  * order key is what makes every downstream emission deterministic,
  * so an out-of-domain id means the INGEST contract broke and silent
  * per-key dropping would corrupt parity unnoticed. A deployment that
  * prefers degraded service over a halt should pre-filter (and count)
  * violations in a dead-letter stage before these operators.
  */
object StreamingRollups {

  /** Event-time windowed rollup (streaming analog of
    * [[graft.operators.Rollups.daily]]/monthly): per (entity, window)
    * avg/sum/max/min/count of value, with a watermark bounding state.
    *
    * Input: a (possibly streaming) frame with ts/entity_id/value.
    */
  def windowed(events: DataFrame, window: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("entity_id"))
      .agg(
        avg("value").as("avg_value"),
        sum("value").as("sum_value"),
        max("value").as("max_value"),
        min("value").as("min_value"),
        count(lit(1)).as("cnt_value"))

  /** [[windowed]] under the library's EXACT-DECIMAL money convention:
    * the value sum accumulates in DECIMAL(18,2) (order-independent —
    * the plain double sum drifts with partial-merge order, which is
    * nondeterministic under streaming state updates), so finalized
    * windows are bit-stable run to run and engine to engine. min/max/
    * count are order-free already. This is the form the oracle gate
    * drives; [[windowed]] stays as the double-typed general rollup.
    */
  def windowedExact(events: DataFrame, window: String,
                    watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("entity_id"))
      .agg(
        count(lit(1)).as("cnt_value"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double")
          .as("sum_value"),
        max("value").as("max_value"),
        min("value").as("min_value"))

  /** Streaming candlestick bars — the live half of
    * [[graft.operators.Finance.ohlcResample]]: per (event-time window,
    * series) the first/max/min/last tick plus count, open/close via
    * min_by/max_by over the same composite (epoch-micros ‖ id) order
    * key the batch operator uses. Still ONE declarative aggregate —
    * min_by/max_by are ordinary partial-merge aggregates, so the
    * streaming state per open bar is a handful of scalars (no tick
    * buffer, no flatMapGroupsWithState), and the watermark closes bars
    * exactly like any windowed agg. Batch-vs-stream parity over the
    * full events table is the §2G oracle analog (spec-pinned).
    */
  def ohlcWindowed(events: DataFrame, window: String, watermark: String): DataFrame = {
    val okey = concat(
      lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 12, "0"))
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("user_id"))
      .agg(
        round(min_by(col("value"), okey), 2).as("open"),
        round(max(col("value")), 2).as("high"),
        round(min(col("value")), 2).as("low"),
        round(max_by(col("value"), okey), 2).as("close"),
        count(lit(1)).as("n_obs"))
  }

  /** Native session-window sessionization — the DECLARATIVE twin of
    * the flatMapGroupsWithState sessionizer below: Spark's
    * `session_window` merges events within `gap` into one window
    * whose bounds extend as members arrive, entirely inside the
    * windowed-aggregation operator — per open session the state is
    * the aggregate's scalars (no event buffer), and the watermark
    * closes sessions exactly like any windowed agg. Use this form
    * whenever the per-session output IS an aggregate; the
    * flatMapGroupsWithState twin stays for custom in-session logic
    * (ordered transition extraction). Batch parity spec-pinned.
    */
  def sessionWindowed(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("entity_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("entity_id"), col("n_events"), col("total_value"))

  /** Streaming exact dedup (the reference's find-one-before-insert
    * guard, transform_iqplus_news_dags.py:144-156, as a streaming
    * primitive): drop duplicate (entity, ts, value) rows, with the
    * watermark bounding dedup state — late duplicates beyond the
    * watermark age out instead of growing state forever.
    */
  def dedup(events: DataFrame, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates("entity_id", "ts", "value")

  case class Event(entity_id: Long, ts: java.sql.Timestamp, value: Double)
  /** A priced tick of one series: what the day-close driver folds. */
  trait DayTick {
    def user_id: Long
    def event_id: Long
    def ts: java.sql.Timestamp
    def value: Double
  }
  case class Tick(user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)
    extends DayTick
  case class Session(entity_id: Long, start: java.sql.Timestamp, end: java.sql.Timestamp,
                     n_events: Long, total_value: Double)
  // NOT private: the state encoder's generated code instantiates this
  // class from outside the package.
  case class SessionState(start: Long, end: Long, n: Long, total: Double)

  /** Stream-static enrichment: join a stream against a broadcast
    * dimension table (the reference enriches every pipeline row with
    * company metadata). The static side is re-broadcast per batch by
    * the engine; no stream-side shuffle, so watermarks and state pass
    * through untouched.
    */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")

  /** Streaming CONTENT dedup: drop documents whose normalized-content
    * fingerprint was already seen, with
    * `dropDuplicatesWithinWatermark` bounding the fingerprint state by
    * event time — the streaming form of the batch exact-dedup /
    * content-delta pair ([[graft.operators.TextPipeline.contentDelta]]).
    * Re-crawled duplicates under fresh ids are dropped because the key
    * is the content, not the id; duplicates farther apart than the
    * watermark delay age out of state (the at-scale trade: unbounded
    * exact streaming dedup is unbounded state).
    *
    * Caveat: a record whose event time ties the CURRENT watermark is
    * treated as late by the stateful operator and silently dropped —
    * including the stream's initial epoch-zero watermark, so synthetic
    * epoch-seconds timestamps starting at 0 lose their first record
    * (asserted in the batch-parity spec). Real crawl timestamps are
    * never near the epoch; synthetic replays must offset theirs.
    */
  def dedupContent(docs: DataFrame, watermark: String): DataFrame =
    docs
      .withColumn("fp",
        graft.functions.TextAnalysis.fingerprintCol(org.apache.spark.sql.functions.col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming NEAR-dup dedup: drop an arriving document whose minhash
    * LSH band bucket was already claimed by an earlier document — the
    * streaming form of [[graft.operators.Dedup.minhashLsh]] and the
    * principled version of the reference's find-one-before-insert
    * guard (transform_iqplus_news_dags.py:144-156), which only catches
    * byte-identical re-crawls. Here a re-crawl that differs by a
    * boilerplate footer shares nearly all minhash lanes with the
    * original, so at least one band collides and the copy is dropped
    * even though its content fingerprint is fresh.
    *
    * Mechanics: one `dropDuplicatesWithinWatermark` per band, chained
    * (Spark's multiple-stateful-operator support). A document survives
    * only if EVERY band is novel. Note the chaining makes drops
    * TRANSITIVE: a document dropped at the band-j operator has already
    * registered bands 0..j-1 in the earlier operators, so a later
    * document can be dropped by colliding with a dropped (non-kept)
    * document's early bands — the same transitive-cluster semantics as
    * the batch connected-components path ([[graft.operators.Dedup
    * .minhashClusters]]), not a strict "collides with a KEPT document"
    * rule. For dedup that is the desired behavior (every member of a
    * near-dup cluster is dropped except the first). State per band is
    * (band_hash → expiry) bounded by the watermark; there is no exact
    * Jaccard verify (that would require buffering prior TEXT —
    * unbounded state), so band geometry is the precision knob: 8-lane
    * bands collide at p = s^8 for Jaccard s, negligible for genuinely
    * different documents.
    */
  def dedupNear(docs: DataFrame, watermark: String, k: Int = 5,
                numPerm: Int = 64, bands: Int = 8): DataFrame = {
    require(numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm)")
    val rowsPerBand = numPerm / bands
    val sig = graft.plans.HashExprs.minhashText(
      graft.functions.TextAnalysis.normalizeWs(col("text")), k, numPerm, word = false)
    val withBands = (0 until bands).foldLeft(docs.withColumn("sig", sig)) {
      (df, j) => df.withColumn(s"band_$j",
        xxhash64(lit(j), slice(col("sig"), j * rowsPerBand + 1, rowsPerBand)))
    }.drop("sig").withWatermark("ts", watermark)
    val deduped = (0 until bands).foldLeft(withBands) {
      (df, j) => df.dropDuplicatesWithinWatermark(s"band_$j")
    }
    deduped.drop((0 until bands).map(j => s"band_$j"): _*)
  }

  /** Streaming per-source QUALITY MONITOR — the pipeline-monitoring
    * counterpart of [[graft.operators.Corpus.sourceReputation]]: per
    * (event-time window, source), document volume and mean quality
    * (same composite as the batch score —
    * [[graft.functions.TextAnalysis.qualityCol]] — 1e4-scaled to a
    * long so the windowed mean is summation-order-exact), with an
    * alert flag when a window's mean drops below the threshold. This
    * is how a crawl pipeline notices a source going bad MID-CRAWL
    * (template change, spam takeover, encoding breakage) instead of
    * at the next batch curation review.
    *
    * State is one (window, source) aggregate row per pair, bounded by
    * the watermark; the quality column is scan work before the one
    * windowed shuffle.
    */
  def sourceMonitor(docs: DataFrame, window: String, watermark: String,
                    minQuality: Double = 0.5): DataFrame =
    docs
      .withColumn("q4", graft.functions.TextAnalysis.qualityBp(col("text")))
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum("q4").as("q4sum"))
      .withColumn("mean_quality",
        expr("(q4sum * 2 + n_docs) div (2 * n_docs)").cast("double") / 10000)
      .withColumn("alert", col("mean_quality") < minQuality)
      .drop("q4sum")

  /** Streaming TOKEN-throughput monitor — windowed token volume per
    * source under a FIXED tokenizer: the compiled BPE encoder
    * ([[graft.plans.HashExprs.bpeEncode]], merges from an offline
    * [[graft.operators.Corpus.bpeTrain]]) runs as a stateless per-row
    * projection, then the same watermark-bounded windowed aggregate
    * as [[sourceMonitor]]. This is the capacity-planning view of an
    * ingest stream (tokens, not documents, are what a training run
    * consumes) — and because the encoder is plain scan work, it adds
    * NO state beyond the windowed sums.
    */
  def tokenMonitor(docs: DataFrame, merges: Seq[(String, String)],
                   window: String, watermark: String): DataFrame =
    docs
      .withColumn("n_tokens",
        graft.plans.HashExprs.bpeEncode(
          graft.functions.TextAnalysis.normalizeWs(col("text")), merges)
          .getField("n_tokens"))
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))

  /** Streaming windowed CARDINALITY monitor — approximate distinct
    * values (HLL sketch) per (event-time window, key): the streaming
    * analog of [[graft.operators.Analytics.cardinalityReport]], and
    * the sketch companion to [[sourceMonitor]] (volume/quality watch
    * distinct-user reach the same way). EXACT windowed distinct in a
    * stream means state proportional to the number of distinct values
    * per open window — unbounded for id-like columns; the HLL sketch
    * holds per-(window, key) state at kilobytes for the declared rsd,
    * and the watermark expires closed windows, so state stays bounded
    * on an unbounded stream. The sketch merges associatively, which
    * is exactly what incremental micro-batch aggregation needs.
    */
  def cardinalityMonitor(stream: DataFrame, keyCol: String, distinctCol: String,
                         window: String, watermark: String,
                         rsd: Double = 0.02): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col(keyCol))
      .agg(
        approx_count_distinct(distinctCol, rsd).as("approx_distinct"),
        count(lit(1)).as("n_events"))

  /** Streaming HOT-KEY monitor — windowed per-key event counts with
    * an absolute alert threshold: the live companion of the batch
    * [[graft.operators.Analytics.skewReport]] (the batch report reads
    * history; this flags a key going hot WHILE it hammers the
    * ingest). Same watermark-bounded windowed aggregate as
    * [[sourceMonitor]]; the threshold is absolute rather than a share
    * of the window total because the total is itself still open while
    * the window accumulates — an absolute per-window count is the
    * alarm a capacity plan actually sets.
    */
  def hotKeyMonitor(stream: DataFrame, keyCol: String, window: String,
                    watermark: String, maxPerWindow: Long): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("alert", col("n_events") > maxPerWindow)

  /** Streaming DATA-QUALITY monitor — windowed violation counts per
    * check: the live form of [[graft.operators.DataQuality.report]]
    * for an events ingest (the batch report audits the loaded table;
    * this watches the stream as it loads). Violations are STATELESS
    * per-row projections (enum/null/range predicates) feeding one
    * watermark-bounded windowed sum — no state beyond the open
    * windows, and adding a check is one more conditional-sum column.
    */
  def dqMonitor(events: DataFrame, window: String, watermark: String,
                validTypes: Seq[String] =
                  Seq("click", "view", "purchase", "signup", "error")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(!col("event_type").isin(validTypes.map(v => v: Any): _*), 1L)
          .otherwise(0L)).as("bad_type"),
        sum(when(col("value").isNull || col("value") < 0, 1L).otherwise(0L))
          .as("bad_value"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("missing_user"))
      .withColumn("alert",
        col("bad_type") + col("bad_value") + col("missing_user") > 0)

  /** Stateless in-stream benchmark decontamination — flag each
    * arriving document that shares any word n-gram with the held-out
    * benchmark set, as it arrives (the streaming admission guard in
    * front of the batch [[graft.operators.Corpus.decontaminate]]
    * audit). The benchmark grams are collected once on the driver
    * (eval suites are bounded — the same broadcast-analog contract as
    * the IVF codebooks) and ride the plan as an array literal, so the
    * check is a pure per-row `arrays_overlap` projection: NO state,
    * no watermark, no shuffle — it cannot fall behind the stream.
    */
  def decontaminateFlag(docs: DataFrame, benchGrams: Seq[String], n: Int = 8): DataFrame =
    docs.select(col("doc_id"), col("text"),
      coalesce(
        arrays_overlap(
          graft.plans.HashExprs.wordNgrams(
            graft.functions.TextAnalysis.normalizeWs(col("text")), n),
          lit(benchGrams.toArray)),
        lit(false)).as("contaminated"))

  /** Stream-STREAM interval join: pair each left event with the right
    * events of the same entity whose timestamp falls within
    * [left.ts − before, left.ts + after]. Both sides carry watermarks
    * and the join condition bounds event-time distance in BOTH
    * directions — exactly what lets the engine expire buffered state
    * (a stream-stream join without a time bound must buffer one side
    * forever). Right-side columns come back `r_`-prefixed.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   watermark: String, before: String, after: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right.columns.foldLeft(right.withWatermark("ts", watermark)) {
      (df, c) => df.withColumnRenamed(c, s"r_$c")
    }
    l.join(r,
      col(key) === col(s"r_$key") &&
        col("r_ts") >= col("ts") - expr(s"INTERVAL $before") &&
        col("r_ts") <= col("ts") + expr(s"INTERVAL $after"))
  }

  /** The streaming LOAD stage: sink a stream into the partitioned
    * parquet layout via idempotent per-batch partition upserts
    * ([[graft.sources.Sinks.upsertPartitions]] under foreachBatch).
    * Dynamic partition overwrite makes a replayed batch rewrite the
    * same partitions instead of duplicating rows, which is what turns
    * at-least-once batch delivery into effectively-once table state —
    * the streaming form of the reference's idempotent per-(year,
    * period) reload.
    */
  def loadStream(stream: DataFrame, path: String, partitionCols: Seq[String],
                 checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sinks.upsertPartitions(batch, path, partitionCols)
      }

  /** The streaming TAKEDOWN stage: a deletion-request stream (rows
    * carrying the index's id column) tombstones each micro-batch
    * against a persisted index via
    * [[graft.sources.IndexMaintenance.tombstone]] — compliance
    * deletions land within one trigger interval of the request, at
    * O(batch) cost, while compaction stays an out-of-band batch job.
    * Replay-safe the way the mechanism itself is: a redelivered batch
    * appends duplicate tombstone rows, which the probe-time anti-join
    * ignores and the next compaction clears.
    */
  def takedownStream(requests: DataFrame, indexTable: String,
                     checkpoint: String, idCol: String = "doc_id")
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    requests.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.IndexMaintenance.tombstone(
          batch.sparkSession, indexTable, batch, idCol)
      }

  /** The streaming INDEX-APPEND stage — streaming↔lifecycle symmetry
    * closed for the re-crawl case [[dedupNear]] already detects:
    * arriving micro-batches extend the persisted minhash band index
    * (geometry checked against the table properties, bucket layout
    * preserved — [[graft.operators.Dedup.minhashAppendRows]]), so the
    * NEXT batch's against-index check sees this one. Runs EXACTLY-ONCE
    * under [[graft.sources.IndexMaintenance.applyBatchOnceStagedTable]]:
    * foreachBatch redelivery (at-least-once after a
    * crash-before-checkpoint) is a no-op instead of a double-append,
    * and a crash at ANY point inside the append itself — including
    * between the data landing and the batch-id mark, the window the
    * plain guard left open — replays to the same final state (staged
    * rows behind one atomic commit, idempotent per-file fold, then the
    * mark). `streamId` names the logical stream (batch ids restart at
    * 0 per query — default: the checkpoint path, which is stable
    * across restarts). Compose with the document sink in the same
    * foreachBatch when the corpus and its index must advance together.
    */
  def indexAppendStream(docs: DataFrame, indexTable: String,
                        checkpoint: String, streamId: Option[String] = None,
                        numBuckets: Int = 8, k: Int = 5, numPerm: Int = 64,
                        bands: Int = 8)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stagedAppendStreamWith(docs, indexTable, checkpoint, streamId,
      Seq("band", "band_hash"), numBuckets) { batch =>
      (graft.operators.Dedup.minhashAppendRows(
        batch, indexTable, k, numPerm, bands), Map.empty)
    }

  /** The family-generic core of [[indexAppendStream]]: one foreachBatch
    * sink that stages ANY append family's batch rows (and optional
    * absolute property snapshot) through
    * [[graft.sources.IndexMaintenance.applyBatchOnceStagedTable]] —
    * EXACTLY-ONCE per (streamId, batchId), with every internal crash
    * window replay-safe. Every persisted-index family shares the same
    * replay hazard (at-least-once foreachBatch redelivery after a
    * crash-before-checkpoint would double-append rows — and for BM25,
    * double-count the stats restamp), so the guard lives here once and
    * the per-family wrappers below only choose the staged rows and the
    * bucket spec.
    */
  private def stagedAppendStreamWith(rows: DataFrame, indexTable: String,
                                     checkpoint: String,
                                     streamId: Option[String],
                                     bucketCols: Seq[String],
                                     numBuckets: Int)(
      stage: DataFrame => (DataFrame, Map[String, String]))
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val sid = streamId.getOrElse(checkpoint)
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.sources.IndexMaintenance.applyBatchOnceStagedTable(
          batch.sparkSession, indexTable, sid, epochId,
          bucketCols, numBuckets) {
          stage(batch)
        }
        ()
      }
  }

  /** The batch-id guard for READ-MODIFY-WRITE maintenance (the cluster
    * upserts): plain [[graft.sources.IndexMaintenance.applyBatchOnce]]
    * — the upserts neutralize internal-crash replay themselves via
    * their staged commit + per-row anti-join, so the outer guard only
    * needs to make the fully-applied case a no-op.
    */
  private def indexAppendStreamWith(rows: DataFrame, indexTable: String,
                                    checkpoint: String,
                                    streamId: Option[String])(
      append: DataFrame => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val sid = streamId.getOrElse(checkpoint)
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.sources.IndexMaintenance.applyBatchOnce(
          batch.sparkSession, indexTable, sid, epochId) {
          append(batch)
        }
        ()
      }
  }

  /** [[indexAppendStream]] for the CONTAINMENT token index: arriving
    * micro-batches of (doc_id, text) extend the persisted prefix-token
    * table ([[graft.operators.Dedup.containmentAppendRows]] — prefix
    * lengths from the STORED threshold, so every appended row honors
    * the build-time pigeonhole contract). Exactness is order-free
    * ("any fixed per-document order"), so a stream-grown index probes
    * identically to a built-at-once one. Exactly-once staged append,
    * like every wrapper here.
    */
  def containmentAppendStream(docs: DataFrame, indexTable: String,
                              checkpoint: String,
                              streamId: Option[String] = None,
                              numBuckets: Int = 8)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stagedAppendStreamWith(docs, indexTable, checkpoint, streamId,
      Seq("h"), numBuckets) { batch =>
      (graft.operators.Dedup.containmentAppendRows(batch, indexTable), Map.empty)
    }

  /** [[indexAppendStream]] for the BM25 inverted index: arriving
    * micro-batches extend the posting table AND restamp the corpus
    * stats. This is the family where EXACTLY-ONCE matters MOST: the
    * stats restamp is a read-modify-write, so a replayed batch without
    * the staged protocol would not just duplicate postings — it would
    * silently inflate N/Σdl and skew every later score. The staged
    * commit records the ABSOLUTE post-fold (N, Σdl) snapshot
    * ([[graft.operators.Corpus.bm25AppendRowsAndProps]]), so replaying
    * any crash window re-applies the same stamp instead of re-adding
    * the deltas. foreachBatch serializes batches, satisfying the
    * append's single-writer contract.
    */
  def bm25AppendStream(docs: DataFrame, indexTable: String,
                       checkpoint: String, streamId: Option[String] = None,
                       numBuckets: Int = 8)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stagedAppendStreamWith(docs, indexTable, checkpoint, streamId,
      Seq("word"), numBuckets) { batch =>
      graft.operators.Corpus.bm25AppendRowsAndProps(batch, indexTable)
    }

  /** [[indexAppendStream]] for the EMBEDDING band index: arriving
    * vector micro-batches are projected at the width the index
    * RECORDED (geometry from table properties) and appended to the
    * (band, bucket) layout
    * ([[graft.operators.Dedup.embedAppendRows]]). Exactly-once staged
    * append.
    */
  def embedAppendStream(vecs: DataFrame, indexTable: String,
                        checkpoint: String, streamId: Option[String] = None,
                        numBuckets: Int = 8, dim: Int = 64)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stagedAppendStreamWith(vecs, indexTable, checkpoint, streamId,
      Seq("band", "bucket"), numBuckets) { batch =>
      (graft.operators.Dedup.embedAppendRows(
        batch.sparkSession, indexTable, batch, dim), Map.empty)
    }

  /** [[indexAppendStream]] for the MEDIA phash index: arriving binary
    * micro-batches are decoded + hashed once and banded per the scheme
    * the index recorded
    * ([[graft.operators.Multimodal.mediaAppendRows]]), so a re-upload
    * in the NEXT batch is caught by the incremental check. Exactly-once
    * staged append.
    */
  def mediaAppendStream(media: DataFrame, indexTable: String,
                        checkpoint: String, streamId: Option[String] = None,
                        numBuckets: Int = 8)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stagedAppendStreamWith(media, indexTable, checkpoint, streamId,
      Seq("band", "bucket", "modality"), numBuckets) { batch =>
      (graft.operators.Multimodal.mediaAppendRows(batch, indexTable), Map.empty)
    }

  /** STREAMING stage for the cluster-assignment UPSERT — the last
    * streaming↔lifecycle asymmetry closed: each arriving document
    * micro-batch MERGES into the persisted components in place
    * ([[graft.operators.Dedup.upsertClusterIndex]] — batch↔corpus
    * edges off the persisted band index, stale-mark superseded
    * clusters, bucket-preserving re-append), so a re-crawl stream
    * folds its near-dup merges into the persisted assignment
    * per trigger and every downstream consumer (keep-best, weights,
    * splits) reads merged state immediately. Batch-id idempotence is
    * LOAD-BEARING here beyond row duplication: an upsert is
    * read-modify-write (it contracts against the live view it is
    * about to change), so a replayed batch without the guard would
    * stale-mark and re-append rows that already merged. Crashes INSIDE
    * the merge are covered by the upsert's own staged commit
    * ([[graft.operators.Dedup.stageUpsert]] — both writes durable
    * behind one atomic rename before the stale-mark, recovery folds
    * idempotently), so no crash point loses the superseded clusters'
    * member rows. `corpus` is
    * the static document frame candidate verification reads (text is
    * never re-shingled — the [[graft.operators.Dedup.clusterIncremental]]
    * contract); keep the band index advancing in the same pipeline
    * ([[indexAppendStream]]) when successive batches must see each
    * other.
    */
  def clusterUpsertStream(docs: DataFrame, minhashTable: String,
                          clusterTable: String, corpus: DataFrame,
                          checkpoint: String,
                          streamId: Option[String] = None,
                          maxIter: Int = 8, numBuckets: Int = 8)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    indexAppendStreamWith(docs, clusterTable, checkpoint, streamId) { batch =>
      graft.operators.Dedup.upsertClusterIndex(
        batch.sparkSession, minhashTable, clusterTable, batch, corpus,
        maxIter, numBuckets)
    }

  /** [[clusterUpsertStream]] for the SEMANTIC components — the
    * embedding-space twin: each arriving vector micro-batch's τ-edges
    * merge into the persisted semantic components
    * ([[graft.operators.Similarity.upsertSemanticClusterIndex]] —
    * batch assigned under the stored codebook, corpus read
    * partition-pruned to touched lists, stale-mark + bucket-preserving
    * re-append). Same read-modify-write replay hazard, same batch-id
    * guard; crashes inside the merge are covered by the upsert's
    * staged commit (see [[clusterUpsertStream]]). Compose with
    * [[semanticAdmissionStream]] upstream when the stream should both
    * refuse paraphrases AND group admitted arrivals.
    */
  def semanticUpsertStream(vecs: DataFrame, indexDir: String,
                           clusterTable: String, checkpoint: String,
                           tau: Double = 0.35,
                           streamId: Option[String] = None,
                           maxIter: Int = 8, numBuckets: Int = 8)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    indexAppendStreamWith(vecs, clusterTable, checkpoint, streamId) { batch =>
      graft.operators.Similarity.upsertSemanticClusterIndex(
        batch.sparkSession, indexDir, clusterTable, batch, tau,
        maxIter, numBuckets)
    }

  /** [[indexAppendStream]] for the IVF vector index — the one
    * PATH-BASED index (codebook + list-partitioned assignment dirs,
    * no catalog table), so idempotence goes through
    * [[graft.sources.IndexMaintenance.applyBatchOnceAt]] (an
    * `applied_batches` subdirectory instead of a side table). Arriving
    * vector micro-batches are assigned under the EXISTING codebook and
    * appended to the list partitions
    * ([[graft.operators.Similarity.appendToIvfIndex]]); the codebook
    * ages, which `ivfDriftReport` measures and `retrainIvfIndex`
    * answers — the streaming stage only feeds the loop. With this,
    * every appendable index family has a streaming ingest stage.
    */
  def ivfAppendStream(vecs: DataFrame, indexDir: String, checkpoint: String,
                      streamId: Option[String] = None)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val sid = streamId.getOrElse(checkpoint)
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // EXACTLY-ONCE append (applyBatchOnceStagedAt): the assigned
        // batch stages in the list-partitioned layout, commits behind
        // one atomic rename, then folds into the live dir file by file
        // — the append→mark crash window of the plain guard is closed
        // (crash-window spec-simulated). Assignment routes factored
        // over a two-level index (assignUnderIndex).
        graft.sources.IndexMaintenance.applyBatchOnceStagedAt(
          batch.sparkSession, indexDir, s"$indexDir/assigned",
          sid, epochId) { tmp =>
          graft.operators.Similarity
            .assignUnderIndex(batch.sparkSession, indexDir, batch)
            .write.mode("overwrite").partitionBy("list_id").parquet(tmp)
        }
        ()
      }
  }

  /** [[ivfAppendStream]] for a TWO-LEVEL index: arriving vector
    * micro-batches route through the FACTORED assignment
    * ([[graft.operators.Similarity.appendToTwoLevelIvfIndex]] — stored
    * coarse book, then the cell's ragged fine book, batch·2√k·d), not
    * the flat pass (which would pay batch·k·d and route by global
    * nearest). Same path-based replay guard.
    */
  def ivfTwoLevelAppendStream(vecs: DataFrame, indexDir: String,
                              checkpoint: String,
                              streamId: Option[String] = None)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    // assignUnderIndex routes the batch through the stored coarse book
    // + the cell's ragged fine book over a two-level index (the flat
    // pass would pay batch·k·d AND route by global nearest — a
    // different cell than the factored build picks), so the generic
    // stage IS the factored stage; kept as a named op for call-site
    // intent, like [[graft.operators.Similarity.appendToTwoLevelIvfIndex]]
    ivfAppendStream(vecs, indexDir, checkpoint, streamId)

  /** The full semantic CURATION loop in one streaming stage — the
    * composition [[semanticAdmissionStream]] and
    * [[semanticUpsertStream]] each do half of: per micro-batch,
    * (1) check the batch against the persisted assignment and keep
    * only the semantically NOVEL vectors ([[graft.operators.Similarity.semDedupAgainstIndex]]
    * — batch-only assignment under the stored codebook, corpus read
    * partition-pruned); (2) append the admitted vectors to the index
    * so the next batch's check sees them; (3) merge the admitted
    * vectors' τ-edges into the persisted semantic COMPONENTS
    * ([[graft.operators.Similarity.upsertSemanticClusterIndex]] —
    * stale-mark + bucket-preserving re-append), so grouping consumers
    * (weights, stats, splits) read merged state immediately. Refused
    * vectors touch neither artifact. The admission check runs BEFORE
    * the append (corpus = pre-batch state, matching the batch
    * admission rule); the component merge runs against the POST-append
    * index only for edge generation geometry — its corpus rows are the
    * pre-batch live set plus the batch itself, which the contracted
    * graph handles by construction (batch↔batch edges are computed
    * in-batch).
    *
    * Replay safety is PER STEP, because the triple is read-modify-write
    * end to end and a crash can land between any two steps: (a) the
    * admission check EXCLUDES the batch's own ids from the corpus side
    * (semDedupAgainstIndex's excludeBatch), so a redelivered batch
    * whose vectors already appended computes the SAME admitted set
    * instead of refusing everything against its own copies; (b) the
    * index append anti-joins the admitted set against ids already in
    * the touched lists, so re-running it never double-appends; (c) the
    * component merge — itself read-modify-write — runs under its OWN
    * table-keyed batch-id guard, and crashes INSIDE it are covered by
    * the upsert's staged commit ([[graft.operators.Dedup.stageUpsert]]
    * — no crash point loses superseded clusters' member rows). The
    * outer path-based guard then makes the fully-completed case free.
    *
    * Over a TWO-LEVEL index ([[graft.operators.Similarity.writeTwoLevelIvfIndex]])
    * the whole loop runs FACTORED with no code change: the admission
    * check, the index append, and the merge's edge generation all
    * route their batch assignment through
    * [[graft.operators.Similarity.assignUnderIndex]], which resolves
    * to the stored coarse book + the cell's ragged fine book
    * (batch·2√k·d) whenever the index carries `codebook_coarse` — the
    * factored curation loop is this same stage pointed at a two-level
    * index (gated: `semantic_curation_twolevel_stream_ingested`).
    */
  def semanticCurationStream(vecs: DataFrame, indexDir: String,
                             clusterTable: String, checkpoint: String,
                             tau: Double = 0.35,
                             streamId: Option[String] = None,
                             maxIter: Int = 8, numBuckets: Int = 8)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val sid = streamId.getOrElse(checkpoint)
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.sources.IndexMaintenance.applyBatchOnceAt(
          batch.sparkSession, indexDir, sid, epochId) {
          val spark = batch.sparkSession
          // materialized once: the admission join otherwise re-executes
          // inside the append AND every pass of the upsert
          val admitted = batch.join(
            graft.operators.Similarity
              .semDedupAgainstIndex(spark, indexDir, batch, tau,
                excludeBatch = true)
              .filter(col("admitted")).select("vec_id"),
            "vec_id").localCheckpoint(true)
          val present = graft.sources.IndexMaintenance
            .liveRowsAt(spark, s"$indexDir/assigned", indexDir, "vec_id")
            .join(broadcast(admitted.select("vec_id")), "vec_id")
            .select("vec_id")
          graft.operators.Similarity.appendToIvfIndex(spark, indexDir,
            admitted.join(present, Seq("vec_id"), "left_anti"))
          graft.sources.IndexMaintenance.applyBatchOnce(
            spark, clusterTable, sid, epochId) {
            graft.operators.Similarity.upsertSemanticClusterIndex(
              spark, indexDir, clusterTable, admitted, tau, maxIter,
              numBuckets)
          }
          ()
        }
        ()
      }
  }

  /** ADMISSION-GATED streaming ingest for the semantic index: each
    * arriving vector micro-batch is first checked against the
    * persisted assignment
    * ([[graft.operators.Similarity.semDedupAgainstIndex]] — batch-only
    * assignment under the stored codebook, corpus read
    * partition-pruned), and only the ADMITTED (semantically novel)
    * vectors append to the index — so the NEXT batch's check sees
    * them, and a paraphrase re-crawled two batches later is refused.
    * This is the curation loop the batch operators describe, run
    * per-trigger: refuse-or-admit, then extend the thing you refuse
    * against. Batch-INTERNAL near-dups are deliberately not the
    * stage's job (both admit if both are novel vs the corpus) — run
    * the in-batch prune ([[graft.operators.Similarity.semDedupWith]])
    * upstream when intra-batch floods matter.
    *
    * Same replay guard as every append stage
    * ([[graft.sources.IndexMaintenance.applyBatchOnceAt]]): the
    * check+append pair runs once per (streamId, batchId).
    */
  def semanticAdmissionStream(vecs: DataFrame, indexDir: String,
                              checkpoint: String, tau: Double = 0.35,
                              streamId: Option[String] = None)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val sid = streamId.getOrElse(checkpoint)
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.sources.IndexMaintenance.applyBatchOnceAt(
          batch.sparkSession, indexDir, sid, epochId) {
          val admitted = graft.operators.Similarity
            .semDedupAgainstIndex(batch.sparkSession, indexDir, batch, tau)
            .filter(col("admitted")).select("vec_id")
          graft.operators.Similarity.appendToIvfIndex(
            batch.sparkSession, indexDir, batch.join(admitted, "vec_id"))
        }
        ()
      }
  }

  /** Shared per-batch session merge: fold this batch's (sorted) events
    * into the open session, emitting sessions closed INLINE by a
    * same-key event arriving past the gap. Late (out-of-order) events
    * must never move the window backwards — a cross-batch arrival with
    * t < s.end would otherwise corrupt the end and spuriously split
    * the session later.
    */
  private def mergeBatch(entity: Long, rows: Iterator[Event], state: GroupState[SessionState],
                         gapMs: Long): (Option[SessionState], Seq[Session]) = {
    val sorted = rows.toSeq.sortBy(_.ts.getTime)
    var cur = state.getOption
    val closed = Seq.newBuilder[Session]
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.end <= gapMs =>
          cur = Some(s.copy(start = math.min(s.start, t),
            end = math.max(s.end, t), n = s.n + 1, total = s.total + e.value))
        case Some(s) =>
          closed += Session(entity, new java.sql.Timestamp(s.start),
            new java.sql.Timestamp(s.end), s.n, s.total)
          cur = Some(SessionState(t, t, 1, e.value))
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    (cur, closed.result())
  }

  /** Session windows closed by EVENT time: a session ends when the
    * watermark — not the wall clock — passes `session end + gap`, so
    * replaying history yields identical sessions regardless of
    * processing speed, and late events within the watermark still
    * extend their session. This is the deterministic variant of
    * [[sessionize]]; processing-time timeouts close sessions at
    * ingestion pauses, which is wrong on backfill/replay.
    *
    * `watermarkDelay` bounds both state and lateness (events later
    * than the watermark may be dropped by the engine upstream).
    */
  def sessionizeEventTime(events: Dataset[Event], gapMs: Long,
                          watermarkDelay: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (entity: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(entity, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.n, s.total))
          } else {
            val (cur, closed) = mergeBatch(entity, rows, state, gapMs)
            cur.foreach { s =>
              state.update(s)
              // fire when the WATERMARK passes end+gap; the timeout
              // timestamp must sit above the current watermark, so an
              // already-stale session fires at the next batch instead
              // of throwing
              state.setTimeoutTimestamp(
                math.max(s.end + gapMs, state.getCurrentWatermarkMs + 1))
            }
            closed.iterator
          }
      }
  }

  case class TypedEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                        event_type: String)
  case class Transition(user_id: Long, from_type: String, to_type: String,
                        ts: java.sql.Timestamp)
  // NOT private: the state encoder's generated code instantiates this
  // class from outside the package (the SessionState contract).
  case class LastEvent(ts: Long, event_id: Long, event_type: String)

  /** Streaming TRANSITION extraction — the incremental form of
    * [[graft.operators.Analytics.eventTransitions]]: per-user state
    * holds only the LAST event (a few bytes per active user), and each
    * arriving event emits one (prev → next) transition row. Downstream
    * a windowed `groupBy(from_type, to_type).count` turns the emitted
    * rows into the live transition matrix; the parity spec pins the
    * per-pair counts to the batch operator on the same data.
    *
    * Ordering: events are sorted by (ts, event_id) WITHIN each batch
    * before folding (flatMapGroupsWithState hands groups unordered),
    * so intra-batch disorder is corrected exactly as the batch window
    * sort does. ACROSS batches the stored last-event is final — an
    * event arriving in a later batch but timestamped before the
    * stored one still transitions FROM the stored event (the
    * streaming-inherent trade; the upstream watermark bounds how
    * stale such arrivals can be). State ages out `idleMs` past the
    * user's last event once the WATERMARK passes it — an evicted
    * user's next event starts a fresh path instead of fabricating a
    * months-later transition.
    */
  def transitions(events: Dataset[TypedEvent], watermarkDelay: String,
                  idleMs: Long = 3600L * 1000): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[TypedEvent], state: GroupState[LastEvent]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val out = Seq.newBuilder[Transition]
            var last = state.getOption
            sorted.foreach { e =>
              last.foreach(l => out += Transition(user, l.event_type, e.event_type, e.ts))
              last = Some(LastEvent(e.ts.getTime, e.event_id, e.event_type))
            }
            last.foreach { l =>
              state.update(l)
              // evict when the watermark passes last-event + idle; the
              // timestamp must sit above the current watermark or the
              // engine throws on an already-stale group
              state.setTimeoutTimestamp(
                math.max(l.ts + idleMs, state.getCurrentWatermarkMs + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Session windows via flatMapGroupsWithState: a session closes after
    * `gapMs` of inactivity (processing-time timeout). Custom state
    * keyed by entity — the Spark-native replacement for the
    * reference's driver-side per-entity bookkeeping.
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.entity_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (entity: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(entity, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.n, s.total))
          } else {
            val (cur, closed) = mergeBatch(entity, rows, state, gapMs)
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutDuration(gapMs)
            }
            closed.iterator
          }
      }
  }

  // NOT private (the SessionState encoder contract). The open day's
  // bar in cents: open/close are the values at the least/greatest
  // order key seen for the day, high/low its extremes.
  case class DayBar(day: String, firstKey: String, lastKey: String,
                    open: Long, high: Long, low: Long, close: Long)
  // the driver's per-series state: the open bar plus the indicator's
  // fold state of COMPLETED days
  case class DayState[S](bar: DayBar, ind: S)

  // the batch folds' signed HALF_UP integer identities: n/d and n/2
  private def divHU(num: Long, den: Long): Long =
    if (num >= 0) (2 * num + den) / (2 * den)
    else -((2 * -num + den) / (2 * den))
  private def halfHU(n: Long): Long = if (n >= 0) (n + 1) / 2 else -((-n + 1) / 2)

  // the day's true range in micro-cents (yesterday's close widens it
  // once one exists) — the TR leg of the Keltner, SuperTrend and ADX folds
  private def trueRange(bar: DayBar, hasPrev: Boolean, prevClose: Long): Long =
    (if (!hasPrev) bar.high - bar.low
    else math.max(bar.high - bar.low,
      math.max(math.abs(bar.high - prevClose), math.abs(bar.low - prevClose)))) * 1000000L

  // one Wilder step: buffer x until n values exist, seed with their
  // HALF_UP mean, then acc ← HALF_UP((acc·(n−1) + x)/n); returns
  // (seeded, acc, buffer)
  private def wilder(seeded: Boolean, acc: Long, buf: Seq[Long], x: Long,
                     n: Int): (Boolean, Long, Seq[Long]) =
    if (seeded) (true, divHU(acc * (n - 1) + x, n), buf)
    else {
      val b = buf :+ x
      if (b.size == n) (true, divHU(b.sum, n), Seq.empty[Long]) else (false, 0L, b)
    }

  /** The DAY-CLOSE DRIVER every indicator stream runs on (see the
    * object doc): the indicator supplies its initial fold state, made
    * from the group's first row, and `closeDay(user, state, bar)`, the
    * fold's one step over a finished day; the driver does the rest.
    * `flushOnTimeout` runs `closeDay` on the open bar when the idle
    * timeout drops a series, emitting its point instead of discarding
    * the day.
    */
  private def dayClose[R <: DayTick, S: TypeTag, P <: Product : TypeTag](
      ticks: Dataset[R], watermarkDelay: String, idleMs: Long,
      flushOnTimeout: Boolean = false)(init: R => S)(
      closeDay: (Long, S, DayBar) => (S, Option[P])): Dataset[P] = {
    import ticks.sparkSession.implicits._
    ticks
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DayState[S], P](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[R], state: GroupState[DayState[S]]) =>
          if (state.hasTimedOut) {
            val flushed =
              if (!flushOnTimeout) None
              else state.getOption.flatMap(s => closeDay(user, s.ind, s.bar)._2)
            state.remove()
            flushed.iterator
          } else {
            val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd")
            fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
            // full microsecond precision (getTime truncates to ms; the
            // sub-ms part lives in getNanos) — must match the batch
            // unix_micros order or same-ms closes could disagree
            def micros(t: R) =
              t.ts.getTime / 1000 * 1000000L + t.ts.getNanos / 1000
            // mirrors the batch lpad(event_id, 12, '0') key, which
            // ASSUMES ids fit 12 digits (lpad would truncate, %012d
            // would widen — both silently misorder): fail loudly at
            // the boundary instead of diverging from batch parity
            def okey(t: R) = {
              require(t.event_id >= 0 && t.event_id < 1000000000000L,
                s"event_id ${t.event_id} ${graft.operators.Finance.OrderKeyDomain}")
              f"${micros(t)}%020d${t.event_id}%012d"
            }
            // the batch bars' packed-tick cents bound, checked alike
            def cents(v: Double) = {
              val c = java.math.BigDecimal.valueOf(v)
                .setScale(2, java.math.RoundingMode.HALF_UP)
                .movePointRight(2).longValueExact()
              require(math.abs(c) < 500000000L,
                s"cents $c ${graft.operators.Finance.CentsDomain}")
              c
            }
            val sorted = rows.toSeq.sortBy(t => (micros(t), t.event_id))
            val prior = state.getOption
            var bar = prior.map(_.bar).orNull
            var ind = prior.fold(init(sorted.head))(_.ind)
            val out = Seq.newBuilder[P]
            var lastTs = 0L
            sorted.foreach { t =>
              val day = fmt.format(t.ts)
              lastTs = math.max(lastTs, t.ts.getTime)
              if (bar == null || day > bar.day) {
                // a later day: the open bar is final — fold it, then
                // open the new day's bar
                if (bar != null) {
                  val (next, point) = closeDay(user, ind, bar)
                  ind = next
                  out ++= point
                }
                val (k, c) = (okey(t), cents(t.value))
                bar = DayBar(day, k, k, c, c, c, c)
              } else if (day == bar.day) {
                val (k, c) = (okey(t), cents(t.value))
                bar = bar.copy(high = math.max(bar.high, c), low = math.min(bar.low, c))
                if (k > bar.lastKey) bar = bar.copy(lastKey = k, close = c)
                if (k < bar.firstKey) bar = bar.copy(firstKey = k, open = c)
              }
              // day < bar.day: late past the day boundary — dropped
            }
            state.update(DayState(bar, ind))
            state.setTimeoutTimestamp(
              math.max(lastTs + idleMs, state.getCurrentWatermarkMs + 1))
            out.result().iterator
          }
      }
  }

  case class RsiPoint(user_id: Long, day: String, rsi_bp: Long)
  // NOT private (SessionState contract). deltas = the last ≤n
  // close-to-close cent deltas of COMPLETED days, oldest first.
  case class RsiState(hasPrev: Boolean, prevClose: Long, deltas: Seq[Long])

  /** Streaming Cutler RSI — a windowed indicator as BOUNDED per-series
    * state: n delta longs plus the previous day's close, regardless of
    * tick volume. Each closed day's close-to-close delta rolls into
    * the deque, and once n deltas exist the day emits its RSI in
    * integer bp — bit-equal to the batch [[graft.operators.Finance.rsiCutler]]
    * row (same HALF_UP identity, same flat-frame 5000 convention).
    * Parity therefore holds on every series day the batch emits EXCEPT
    * its last (still open; the spec pins exactly that).
    *
    * `emitOpenOnTimeout = true` FLUSHES the still-open day when the
    * idle timeout drops the series' state (the same fold step a
    * day-boundary tick would run, so the flushed row is the batch row
    * for that day) — closing the documented idle-gap caveat for
    * monitoring deployments that prefer a final reading over silence
    * when a series dies; spec-exercised through timeout → resume. Off
    * by default: the default contract stays "emissions are day-closed
    * only".
    */
  def rsiStream(ticks: Dataset[Tick], watermarkDelay: String, n: Int = 14,
                idleMs: Long = 7L * 24 * 3600 * 1000,
                emitOpenOnTimeout: Boolean = false): Dataset[RsiPoint] = {
    require(n >= 2, s"RSI window must be >= 2, got $n")
    dayClose(ticks, watermarkDelay, idleMs, emitOpenOnTimeout)(
      _ => RsiState(hasPrev = false, 0L, Seq.empty)) { (user, st, bar) =>
      val deltas =
        if (!st.hasPrev) st.deltas
        else (st.deltas :+ (bar.close - st.prevClose)).takeRight(n)
      val rsi =
        if (deltas.size == n) {
          val g = deltas.filter(_ > 0).sum
          val l = -deltas.filter(_ < 0).sum
          Some(RsiPoint(user, bar.day,
            if (g + l == 0) 5000L else (2 * g * 10000 + (g + l)) / (2 * (g + l))))
        } else None
      (RsiState(hasPrev = true, bar.close, deltas), rsi)
    }
  }

  case class MacdPoint(user_id: Long, day: String, macd: Double,
                       signal: Double, histogram: Double)
  // NOT private (the SessionState encoder contract). e12/e26/sig are
  // the three EMA scalars of COMPLETED days in MICRO-CENTS (the batch
  // fold's integer convention) — the entire indicator state,
  // regardless of tick volume; seeded=false until the first day
  // closes (the seed-from-first-close convention).
  case class MacdState(seeded: Boolean, e12: Long, e26: Long, sig: Long)

  /** Streaming MACD — the EMA recursion as THREE LONGS of per-series
    * state (the recursive indicator is the best case for streaming:
    * where the batch fold carries the whole day array, the stream
    * carries just the current EMA scalars). Each closed day's close
    * updates e12/e26 with the SAME micro-cent HALF_UP integer step the
    * batch [[graft.operators.Finance.macd]] fold applies, so every
    * finalized day's (macd, signal, histogram) is bit-equal to the
    * batch row — parity on every series day except its still-open
    * last (spec-pinned).
    */
  def macdStream(ticks: Dataset[Tick], watermarkDelay: String,
                 fast: Int = 12, slow: Int = 26, signalN: Int = 9,
                 idleMs: Long = 7L * 24 * 3600 * 1000): Dataset[MacdPoint] = {
    require(1 < fast && fast < slow, s"need 1 < fast < slow, got ($fast, $slow)")
    require(signalN > 1, s"signal period must be > 1, got $signalN")
    dayClose(ticks, watermarkDelay, idleMs)(
      _ => MacdState(seeded = false, 0L, 0L, 0L)) { (user, st, bar) =>
      // one step of the batch fold, then the day's point
      val ck = bar.close * 1000000L
      val (e12, e26, macd, sig) =
        if (!st.seeded) (ck, ck, 0L, 0L)
        else {
          val n12 = divHU(2 * ck + (fast - 1) * st.e12, fast + 1)
          val n26 = divHU(2 * ck + (slow - 1) * st.e26, slow + 1)
          val m = n12 - n26
          (n12, n26, m, divHU(2 * m + (signalN - 1) * st.sig, signalN + 1))
        }
      (MacdState(seeded = true, e12, e26, sig),
        Some(MacdPoint(user, bar.day, macd.toDouble / 100000000.0,
          sig.toDouble / 100000000.0, (macd - sig).toDouble / 100000000.0)))
    }
  }

  case class KeltnerPoint(user_id: Long, day: String, mid: Double,
                          atr: Double, upper_band: Double, lower_band: Double)
  // NOT private (the SessionState encoder contract). midEma/atr are
  // micro-cent longs; trBuf holds ≤ atrN pre-seed true ranges (the
  // RsiState.deltas pattern — bounded by the period, not the volume).
  case class KeltnerState(prevClose: Long, hasPrev: Boolean,
                          midSeeded: Boolean, midEma: Long,
                          atrSeeded: Boolean, atr: Long, trBuf: Seq[Long])

  /** Streaming Keltner channels — the two integer folds of the batch
    * [[graft.operators.Finance.keltner]] as a handful of longs of
    * per-series state: the typical-price EMA advances on every day
    * close, true ranges buffer until the first-`atrN` SMA seed, then
    * the Wilder fold takes over. Every step is the SAME micro-cent
    * HALF_UP identity as the batch fold, so every emitted day is
    * bit-equal to the batch row; points emit from the day the ATR is
    * defined, exactly the batch emission rule — parity on every
    * series day except its still-open last (spec-pinned).
    */
  def keltnerStream(ticks: Dataset[Tick], watermarkDelay: String,
                    emaN: Int = 20, atrN: Int = 10, mult: Int = 2,
                    idleMs: Long = 7L * 24 * 3600 * 1000): Dataset[KeltnerPoint] = {
    require(emaN >= 2 && atrN >= 1, s"need emaN >= 2, atrN >= 1, got ($emaN, $atrN)")
    dayClose(ticks, watermarkDelay, idleMs)(_ => KeltnerState(
      0L, hasPrev = false, midSeeded = false, 0L, atrSeeded = false, 0L,
      Seq.empty)) { (user, st, bar) =>
      // one step of each batch fold
      val typ = divHU((bar.high + bar.low + bar.close) * 1000000L, 3)
      val mid = if (!st.midSeeded) typ
        else divHU(2 * typ + (emaN - 1) * st.midEma, emaN + 1)
      val (atrSeeded, atr, buf) = wilder(st.atrSeeded, st.atr, st.trBuf,
        trueRange(bar, st.hasPrev, st.prevClose), atrN)
      val point = if (atrSeeded) Some(KeltnerPoint(user, bar.day,
        mid.toDouble / 100000000.0, atr.toDouble / 100000000.0,
        (mid + mult * atr).toDouble / 100000000.0,
        (mid - mult * atr).toDouble / 100000000.0)) else None
      (KeltnerState(bar.close, hasPrev = true, midSeeded = true, mid,
        atrSeeded, atr, buf), point)
    }
  }

  case class SupertrendPoint(user_id: Long, day: String, upper_band: Double,
                             lower_band: Double, trend: Long, supertrend: Double)
  // NOT private (the SessionState encoder contract). The whole
  // conditional band recursion is SEVEN longs + a bounded pre-seed TR
  // buffer: ATR Wilder state, the two ratcheting final bands, and the
  // trend sign — state that both carries and branches, per series,
  // never tick volume.
  case class SupertrendState(prevClose: Long, hasPrev: Boolean,
                             atrSeeded: Boolean, atr: Long, trBuf: Seq[Long],
                             stSeeded: Boolean, fu: Long, fl: Long, td: Long)

  /** Streaming SuperTrend — the batch conditional band recursion
    * ([[graft.operators.Finance.supertrend]]) as seven longs of
    * per-series state: the Wilder-ATR fold (SMA-seeded at bar n), the
    * ratcheting final bands (upper only tightens DOWN, reset when
    * yesterday's close broke above it; lower only UP), and the trend
    * sign that flips when today's close crosses the just-updated
    * opposite band. Every compare is the SAME BIGINT branch as the
    * batch fold, so every finalized day's row is bit-equal to the
    * batch one — parity on every series day except its still-open
    * last (spec-pinned). The trend column IS the live alert: a
    * sign change between consecutive emissions is the SuperTrend
    * flip signal this indicator exists for.
    */
  def supertrendStream(ticks: Dataset[Tick], watermarkDelay: String,
                       n: Int = 7, mult: Int = 3,
                       idleMs: Long = 7L * 24 * 3600 * 1000): Dataset[SupertrendPoint] = {
    require(n >= 1, s"SuperTrend ATR window must be >= 1, got $n")
    dayClose(ticks, watermarkDelay, idleMs)(_ => SupertrendState(
      0L, hasPrev = false, atrSeeded = false, 0L, Seq.empty,
      stSeeded = false, 0L, 0L, 0L)) { (user, st, bar) =>
      // one ATR step, then the band fold
      val (atrSeeded, atr, buf) = wilder(st.atrSeeded, st.atr, st.trBuf,
        trueRange(bar, st.hasPrev, st.prevClose), n)
      val base = st.copy(prevClose = bar.close, hasPrev = true,
        atrSeeded = atrSeeded, atr = atr, trBuf = buf)
      if (!atrSeeded) (base, None)
      else {
        val mid = (bar.high + bar.low) * 500000L
        val cu = bar.close * 1000000L
        val bu = mid + mult * atr
        val bl = mid - mult * atr
        val (fu, fl, td) =
          if (!st.stSeeded) // the first ATR row seeds the bands
            (bu, bl, if (cu > bu) 1L else if (cu < bl) -1L else 1L)
          else {
            val pc = st.prevClose * 1000000L // yesterday's close
            val fuT = if (bu < st.fu || pc > st.fu) bu else st.fu
            val flT = if (bl > st.fl || pc < st.fl) bl else st.fl
            (fuT, flT,
              if (cu > fuT) 1L else if (cu < flT) -1L else st.td)
          }
        (base.copy(stSeeded = true, fu = fu, fl = fl, td = td),
          Some(SupertrendPoint(user, bar.day,
            fu.toDouble / 100000000.0, fl.toDouble / 100000000.0, td,
            (if (td == 1L) fl else fu).toDouble / 100000000.0)))
      }
    }
  }

  case class DonchianPoint(user_id: Long, day: String, upper_band: Double,
                           lower_band: Double, mid: Double, signal: String)
  // NOT private (the SessionState encoder contract). hs/ls hold the
  // last ≤n COMPLETED days' high/low cents, oldest first — the whole
  // rolling-channel state, bounded by the period, never tick volume.
  case class DonchianState(hs: Seq[Long], ls: Seq[Long])

  /** Streaming Donchian channels — the n-day rolling envelope as a
    * BOUNDED deque of per-series state (n high/low cent pairs). On
    * each closed day, yesterday's channel (the max/min over the deque
    * BEFORE the push — partial frames included, exactly the batch
    * lag(u) semantics) decides the breakout signal, the finalized bar
    * joins the deque, and the day emits once the frame is full —
    * bit-equal to the batch [[graft.operators.Finance.donchianChannels]]
    * rows (integer compares, HALF_UP half-sum midline). Parity on
    * every series day except its still-open last (spec-pinned).
    */
  def donchianStream(ticks: Dataset[Tick], watermarkDelay: String, n: Int = 14,
                     idleMs: Long = 7L * 24 * 3600 * 1000): Dataset[DonchianPoint] = {
    require(n >= 1, s"Donchian window must be >= 1, got $n")
    dayClose(ticks, watermarkDelay, idleMs)(
      _ => DonchianState(Seq.empty, Seq.empty)) { (user, st, bar) =>
      // yesterday's channel: the deque BEFORE this bar joins
      // (batch lag(u) — partial frames included)
      val prev = if (st.hs.nonEmpty) Some((st.hs.max, st.ls.min)) else None
      val hs = (st.hs :+ bar.high).takeRight(n)
      val ls = (st.ls :+ bar.low).takeRight(n)
      val point = prev.collect { case (pu, pl) if hs.size == n =>
        val (u, lo) = (hs.max, ls.min)
        DonchianPoint(user, bar.day,
          u.toDouble / 100.0, lo.toDouble / 100.0,
          ((u + lo + 1) >> 1).toDouble / 100.0,
          if (bar.close > pu) "breakout_up"
          else if (bar.close < pl) "breakout_down" else "inside")
      }
      (DonchianState(hs, ls), point)
    }
  }

  case class Mover(user_id: Long, day: String, prev_close_cents: Long,
                   close_cents: Long, change_bp: Long)
  // NOT private: the state encoder instantiates this from outside the
  // package (the SessionState contract). prevClose = the most recent
  // COMPLETED day's close, 0 before one exists (no emission either way).
  case class MoverState(prevClose: Long)

  /** Streaming day-over-day MOVERS — the incremental form of the batch
    * [[graft.operators.Finance.topMovers]] change table: per-series
    * state holds the last completed close, and each closed day emits
    * its close-to-close change in signed integer basis points via the
    * positive-operand HALF_UP identity — bit-equal to the batch
    * column. The still-open final day emits nothing (it isn't over),
    * so batch parity holds on every series' days EXCEPT its last
    * (parity spec pins exactly that). Ranking the emitted rows (the
    * live top-k board) is a downstream windowed aggregate over this
    * bounded stream.
    */
  def movers(ticks: Dataset[Tick], watermarkDelay: String,
             idleMs: Long = 7L * 24 * 3600 * 1000): Dataset[Mover] =
    dayClose(ticks, watermarkDelay, idleMs)(_ => MoverState(0L)) { (user, st, bar) =>
      val (p, c) = (st.prevClose, bar.close)
      (MoverState(c),
        if (p > 0 && c > 0) Some(Mover(user, bar.day, p, c, (2 * c * 10000 + p) / (2 * p) - 10000))
        else None)
    }

  case class HeikinAshiPoint(user_id: Long, day: String, ha_open: Double,
                             ha_high: Double, ha_low: Double, ha_close: Double)
  // NOT private (the SessionState encoder contract). The candle
  // recursion's whole carried state is TWO quarter-cent longs (the
  // previous bar's ha_open4/ha_close4).
  case class HeikinAshiState(haSeeded: Boolean, hao4: Long, hc4: Long)

  /** Streaming Heikin-Ashi — the smoothed-candle recursion
    * ([[graft.operators.Finance.heikinAshi]]) as TWO quarter-cent
    * longs of per-series state: ha_close4 = o+h+l+c is exact in the
    * 4× basis, the carry step ha_open4 = (prev ha_open4 + prev
    * ha_close4 + 1) div 2 is the same positive HALF_UP halving as
    * the batch fold, and high/low are integer max/min — every
    * finalized day bit-equal to the batch candle (parity on all days
    * except the still-open last, spec-pinned). The open leg is the
    * bar's min-order-key tick, so cross-batch disorder inside a day
    * still lands on the batch min_by/max_by bars. Every closed day
    * emits (the batch operator emits from the first bar).
    */
  def heikinAshiStream(ticks: Dataset[Tick], watermarkDelay: String,
                       idleMs: Long = 7L * 24 * 3600 * 1000): Dataset[HeikinAshiPoint] =
    dayClose(ticks, watermarkDelay, idleMs)(
      _ => HeikinAshiState(haSeeded = false, 0L, 0L)) { (user, st, bar) =>
      val hc4 = bar.open + bar.high + bar.low + bar.close
      val hao4 =
        if (!st.haSeeded) 2 * (bar.open + bar.close)
        else (st.hao4 + st.hc4 + 1) / 2
      (HeikinAshiState(haSeeded = true, hao4, hc4),
        Some(HeikinAshiPoint(user, bar.day,
          hao4.toDouble / 400.0,
          math.max(bar.high * 4, math.max(hao4, hc4)).toDouble / 400.0,
          math.min(bar.low * 4, math.min(hao4, hc4)).toDouble / 400.0,
          hc4.toDouble / 400.0)))
    }

  case class AdxPoint(user_id: Long, day: String, di_plus_bp: Long,
                      di_minus_bp: Long, adx_bp: Long)
  // NOT private (the SessionState encoder contract). The four chained
  // Wilder recursions as bounded state: prev bar's (h, l, c) for the
  // delta row, three ≤n seed buffers OR their seeded fold scalars
  // (wp/wn/wt, micro-cents), and the ADX stage's ≤n DX buffer OR its
  // seeded micro-bp fold (wa) — never tick volume, never day count.
  case class AdxState(prevH: Long, prevL: Long, prevC: Long, hasPrev: Boolean,
                      dmSeeded: Boolean, wp: Long, wn: Long, wt: Long,
                      pdmBuf: Seq[Long], ndmBuf: Seq[Long], trBuf: Seq[Long],
                      adxSeeded: Boolean, wa: Long, dxBuf: Seq[Long])

  /** Streaming ADX — Wilder's directional system
    * ([[graft.operators.Finance.adx]]) with all FOUR chained integer
    * recursions as a handful of longs of per-series state: ±DM and TR
    * per finalized delta row (needs yesterday's FULL bar — h, l, c —
    * not just the close), SMA-seeded Wilder folds for each, DI± as
    * HALF_UP basis points, DX, and the fourth fold over DX in
    * micro-bp. Every division is the same positive HALF_UP identity
    * as the batch fold, so every emitted day (from delta row 2n−1 on,
    * exactly the batch emission start) is bit-equal — parity on all
    * closed days, spec-pinned. The DI+/DI− crossover and a rising
    * adx_bp are the live trend-strength alerts.
    */
  def adxStream(ticks: Dataset[Tick], watermarkDelay: String, n: Int = 7,
                idleMs: Long = 7L * 24 * 3600 * 1000): Dataset[AdxPoint] = {
    require(n >= 2, s"ADX window must be >= 2, got $n")
    dayClose(ticks, watermarkDelay, idleMs)(_ => AdxState(
      0L, 0L, 0L, hasPrev = false, dmSeeded = false, 0L, 0L, 0L,
      Seq.empty, Seq.empty, Seq.empty, adxSeeded = false, 0L, Seq.empty)) {
      (user, st, bar) =>
        val base = st.copy(prevH = bar.high, prevL = bar.low, prevC = bar.close,
          hasPrev = true)
        // the first bar only becomes yesterday's bar; every later one
        // is one delta row through the four folds
        if (!st.hasPrev) (base, None)
        else {
          val up = bar.high - st.prevH
          val dn = st.prevL - bar.low
          val pdm = (if (up > dn && up > 0L) up else 0L) * 1000000L
          val ndm = (if (dn > up && dn > 0L) dn else 0L) * 1000000L
          val tr = trueRange(bar, hasPrev = true, st.prevC)
          // stage 1-3: the three DM/TR folds fill their seed buffers
          // in step, so they seed on the same bar
          val (dmSeeded, wp, pb) = wilder(st.dmSeeded, st.wp, st.pdmBuf, pdm, n)
          val (_, wn, nb) = wilder(st.dmSeeded, st.wn, st.ndmBuf, ndm, n)
          val (_, wt, tb) = wilder(st.dmSeeded, st.wt, st.trBuf, tr, n)
          val mid = base.copy(dmSeeded = dmSeeded, wp = wp, wn = wn, wt = wt,
            pdmBuf = pb, ndmBuf = nb, trBuf = tb)
          if (!dmSeeded) (mid, None)
          else {
            // DI± / DX off the just-updated folds (flat bar → 0)
            val dip = if (wt == 0L) 0L else (2 * wp * 10000 + wt) / (2 * wt)
            val dim = if (wt == 0L) 0L else (2 * wn * 10000 + wt) / (2 * wt)
            val dx = if (dip + dim == 0L) 0L
              else (2 * math.abs(dip - dim) * 10000 + (dip + dim)) /
                (2 * (dip + dim))
            // stage 4: the ADX fold over DX in micro-bp
            val (adxSeeded, wa, db) = wilder(st.adxSeeded, st.wa, st.dxBuf,
              dx * 1000000L, n)
            (mid.copy(adxSeeded = adxSeeded, wa = wa, dxBuf = db),
              if (adxSeeded) Some(AdxPoint(user, bar.day,
                dip, dim, (2 * wa + 1000000) / 2000000)) else None)
          }
        }
    }
  }

  case class CusumPoint(user_id: Long, day: String, target: Double,
                        s_pos: Long, s_neg: Long, alarm: Boolean)
  // NOT private (the SessionState encoder contract). The whole
  // two-sided CUSUM recursion is TWO longs (S⁺, S⁻) plus the
  // per-series calibration pair — state that never grows with tick
  // volume; the alarm bit is derived at emission.
  case class CusumState(mu: Long, mad: Long, sp: Long, sn: Long)
  // the stream-static join row: a tick carrying its series' calibration
  case class CalibTick(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                       value: Double, mu: Long, mad: Long) extends DayTick

  /** Streaming two-sided CUSUM changepoint monitor — the batch
    * recursion ([[graft.operators.TimeSeries.cusumChangepoint]]) as
    * two longs of per-series state, with the alarm bit on every
    * emission: THE live changepoint alert (the alarm is the reason
    * CUSUM exists — a user running streaming SuperTrend expects this
    * stream next to it).
    *
    * Calibration (μ = lower-median close, MAD) is an OFFLINE artifact:
    * the batch form self-calibrates over the full series, which no
    * unbounded stream can replay, so the stream takes the bounded
    * (|series| rows) table [[graft.operators.TimeSeries.cusumCalibration]]
    * produces and joins it in as a broadcast stream-static join — the
    * standard deploy loop (recalibrate offline on the bar table, the
    * live monitor picks up the new targets on restart). The fold state
    * takes μ and MAD from the series' first joined tick. Given the same
    * calibration, every finalized day's (S⁺, S⁻, alarm) is bit-equal
    * to the batch fold — the same BIGINT recursion with the same
    * HALF_UP slack k = (2·MAD+2) div 4 and threshold h = 5·MAD —
    * parity on every series day except its still-open last
    * (spec-pinned). Series absent from the calibration table (under 2
    * bars at calibration time — exactly the batch m ≥ 2 filter) drop
    * via the inner join, matching the batch output domain; the
    * watermark is taken over the joined ticks, so such a series does
    * not advance it either.
    */
  def cusumStream(ticks: Dataset[Tick], calibration: DataFrame,
                  watermarkDelay: String,
                  idleMs: Long = 7L * 24 * 3600 * 1000): Dataset[CusumPoint] = {
    import ticks.sparkSession.implicits._
    dayClose(
      ticks.join(broadcast(calibration.select("user_id", "mu", "mad")), Seq("user_id"))
        .as[CalibTick],
      watermarkDelay, idleMs)(t => CusumState(t.mu, t.mad, 0L, 0L)) { (user, st, bar) =>
      // one CUSUM step off the day close
      val k = (2 * st.mad + 2) / 4 // HALF_UP(MAD/2), mad ≥ 0
      val h = 5 * st.mad
      val sp = math.max(0L, st.sp + (bar.close - st.mu - k))
      val sn = math.max(0L, st.sn + (st.mu - bar.close - k))
      (st.copy(sp = sp, sn = sn),
        Some(CusumPoint(user, bar.day, st.mu.toDouble / 100.0,
          sp, sn, sp > h || sn > h)))
    }
  }

  case class HoltPoint(user_id: Long, day: String, level: Double,
                       trend: Double, forecast: Double)
  // NOT private (the SessionState encoder contract). The whole Holt
  // recursion is TWO longs of smoothing state — level l and forecast
  // f = l + b in micro-cents.
  case class HoltState(seeded: Boolean, l: Long, f: Long)

  /** Streaming Holt linear forecast — the batch α = β = 1/2 halving
    * recursion ([[graft.operators.TimeSeries.holtLinear]]) as two
    * longs of per-series state: level l_t = HALF_UP((x_t + f_{t−1})/2)
    * and f_t = l_t + b_t with b_t = HALF_UP((f_{t−1} + l_t − 2l_{t−1})/2),
    * seeded l₁ = f₁ = x₁ — each step ONE signed HALF_UP integer op
    * in micro-cents, identical to the batch fold, so every finalized
    * day's level/trend/one-step forecast is bit-equal to the batch row
    * (parity on every series day except its still-open last,
    * spec-pinned). The emitted forecast IS the live one-step-ahead
    * prediction — the streaming-native forecaster next to the
    * indicator streams.
    */
  def holtStream(ticks: Dataset[Tick], watermarkDelay: String,
                 idleMs: Long = 7L * 24 * 3600 * 1000): Dataset[HoltPoint] =
    dayClose(ticks, watermarkDelay, idleMs)(
      _ => HoltState(seeded = false, 0L, 0L)) { (user, st, bar) =>
      // seed or one halving step
      val x = bar.close * 1000000L
      val (l, f) =
        if (!st.seeded) (x, x)
        else {
          val lt = halfHU(x + st.f)
          val bt = halfHU(st.f + lt - 2 * st.l)
          (lt, lt + bt)
        }
      (HoltState(seeded = true, l, f),
        Some(HoltPoint(user, bar.day,
          l.toDouble / 100000000.0,
          (f - l).toDouble / 100000000.0,
          f.toDouble / 100000000.0)))
    }

  case class HoltWintersPoint(user_id: Long, day: String, level: Double,
                              trend: Double, seasonal: Double,
                              forecast: Double)
  // NOT private (the SessionState encoder contract). Holt–Winters
  // state = the ≤7-close warm-up buffer + the (l, b) smoothing pair +
  // the 7-element seasonal ring, all in micro-cents.
  case class HoltWintersState(warm: Seq[Long], seeded: Boolean, l: Long,
                              b: Long, seas: Seq[Long])

  /** Streaming Holt–Winters additive weekly forecast — the batch
    * α = β = γ = 1/2 recursion
    * ([[graft.operators.TimeSeries.holtWinters]]) live: the first 7
    * closed days accumulate in a warm-up buffer (no emission — the
    * batch form emits from bar 8), the 7th close seeds l₇ =
    * positive-HALF_UP mean / b₇ = 0 / s_i = x_i − l₇, and every later
    * closed day runs the three signed HALF_UP halvings and rotates
    * the 7-element seasonal ring — identical integers to the batch
    * fold, so every finalized day's level/trend/seasonal/one-step
    * forecast is bit-equal to the batch row (parity on every series
    * day except its still-open last, spec-pinned). The forecast leg
    * IS the live next-bar prediction including the weekly seasonal —
    * the streaming-native seasonal forecaster next to [[holtStream]].
    */
  def holtWintersStream(ticks: Dataset[Tick], watermarkDelay: String,
                        idleMs: Long = 7L * 24 * 3600 * 1000): Dataset[HoltWintersPoint] =
    dayClose(ticks, watermarkDelay, idleMs)(_ => HoltWintersState(
      Seq.empty, seeded = false, 0L, 0L, Seq.empty)) { (user, st, bar) =>
      // warm-up, seed, or one HW step
      val x = bar.close * 1000000L
      if (!st.seeded) {
        val warm = st.warm :+ x
        if (warm.length < 7) (st.copy(warm = warm), None)
        else {
          val l0 = (2 * warm.sum + 7) / 14
          (HoltWintersState(Seq.empty, seeded = true, l0, 0L, warm.map(_ - l0)), None)
        }
      } else {
        val sm = st.seas.head
        val lt = halfHU(x - sm + st.l + st.b)
        val bt = halfHU(st.b + lt - st.l)
        val sNew = halfHU(x - lt + sm)
        val seas = st.seas.tail :+ sNew
        val f = lt + bt + seas.head
        (st.copy(l = lt, b = bt, seas = seas),
          Some(HoltWintersPoint(user, bar.day,
            lt.toDouble / 100000000.0,
            bt.toDouble / 100000000.0,
            sNew.toDouble / 100000000.0,
            f.toDouble / 100000000.0)))
      }
    }
}
