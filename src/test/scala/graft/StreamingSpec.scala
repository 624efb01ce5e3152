package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingRollups
import graft.streaming.StreamingRollups.{Event, Session}

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed rollup with watermark aggregates event-time windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1L, ts("2024-01-01 00:00:10"), 10.0),
      Event(1L, ts("2024-01-01 00:00:50"), 30.0),
      Event(1L, ts("2024-01-01 00:01:10"), 5.0),
      Event(2L, ts("2024-01-01 00:00:20"), 7.0))
    val agg = StreamingRollups.windowed(input.toDF(), "1 minute", "10 seconds")
    val q = agg.writeStream.format("memory").queryName("win")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("win")
      .select(col("entity_id"), col("sum_value"), col("cnt_value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(rows.contains((1L, 40.0, 2L))) // first window of entity 1
    assert(rows.contains((1L, 5.0, 1L)))  // second window
    assert(rows.contains((2L, 7.0, 1L)))
  }

  test("native session_window streaming agg reproduces the batch session windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id").as("entity_id"), col("ts"), col("value"))
    val rows = ev.as[Event].collect().toSeq
    val input = MemoryStream[Event]
    input.addData(rows: _*)
    val agg = StreamingRollups.sessionWindowed(input.toDF(), "30 minutes", "10 seconds")
    val q = agg.writeStream.format("memory").queryName("parity_sess")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    val streamed = keyed(spark.table("parity_sess"))
    val batch = keyed(ev
      .groupBy(session_window(col("ts"), "30 minutes"), col("entity_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("entity_id"), col("n_events"), col("total_value")))
    assert(streamed.keySet === batch.keySet,
      s"session bounds differ: ${streamed.size} streamed vs ${batch.size} batch")
    batch.foreach { case (k, v) => assert(streamed(k) === v, s"at $k") }
    assert(batch.nonEmpty)
  }

  test("streaming windowed rollup and exact dedup reproduce the batch results over the full events table") {
    // value-level parity with the BATCH engine on the real table, not
    // a hand-built fixture: the streaming operator replayed over the
    // whole sf events table must agree with the equivalent batch
    // aggregation on every (window, entity) group. This is the §2G
    // analog of the DuckDB oracle gate — the batch path IS the oracle.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id").as("entity_id"), col("ts"), col("value"))
    val rows = ev.as[Event].collect().toSeq // 1000 rows at sf0.001
    val input = MemoryStream[Event]
    input.addData(rows: _*)
    val agg = StreamingRollups.windowed(input.toDF(), "1 hour", "10 seconds")
    val q = agg.writeStream.format("memory").queryName("parity_win")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window.start").as("ws"), col("entity_id"),
        col("sum_value"), col("cnt_value"), col("max_value"), col("min_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    val streamed = keyed(spark.table("parity_win"))
    val batch = keyed(ev
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour"), col("entity_id"))
      .agg(sum("value").as("sum_value"), count(lit(1)).as("cnt_value"),
        max("value").as("max_value"), min("value").as("min_value")))
    assert(streamed.keySet === batch.keySet)
    batch.foreach { case (k, (s, c, mx, mn)) =>
      val (s2, c2, mx2, mn2) = streamed(k)
      assert(c2 === c && mx2 === mx && mn2 === mn, s"group $k")
      // double sums may differ in the last bits with partial-agg order
      assert(math.abs(s2 - s) <= 1e-9 * math.max(1.0, math.abs(s)), s"sum at $k: $s2 vs $s")
    }
    // exact dedup parity: the streaming drop set equals batch dropDuplicates
    val input2 = MemoryStream[Event]
    input2.addData(rows: _*)
    val dd = StreamingRollups.dedup(input2.toDF(), "10 minutes")
    val q2 = dd.writeStream.format("memory").queryName("parity_dd")
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table("parity_dd").count() ===
      ev.dropDuplicates("entity_id", "ts", "value").count())
    // content dedup parity over the full documents table: the
    // streaming keep count equals the batch distinct-fingerprint count
    // ts offset away from epoch zero: the stream's initial watermark
    // IS the epoch, and a record whose event time ties it is treated
    // as late by the stateful dedup operator
    val docs = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        timestamp_seconds(col("doc_id") + 1000000L).as("ts"), col("text"))
    val docRows = docs.as[(Long, Timestamp, String)].collect().toSeq
    val input3 = MemoryStream[(Long, Timestamp, String)]
    input3.addData(docRows: _*)
    val dc = StreamingRollups.dedupContent(
      input3.toDF().toDF("doc_id", "ts", "text"), "10 minutes")
    val q3 = dc.writeStream.format("memory").queryName("parity_dc")
      .outputMode("append").start()
    try q3.processAllAvailable() finally q3.stop()
    val batchDistinct = docs
      .select(graft.functions.TextAnalysis.fingerprintCol(col("text")).as("fp"))
      .distinct().count()
    assert(spark.table("parity_dc").count() === batchDistinct)
  }

  test("streaming hot-key monitor alerts on a key exceeding its window budget") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // entity 1: three events in one minute window; entity 2: one
    input.addData(
      Event(1L, ts("2024-01-01 00:00:10"), 1.0),
      Event(1L, ts("2024-01-01 00:00:20"), 1.0),
      Event(1L, ts("2024-01-01 00:00:30"), 1.0),
      Event(2L, ts("2024-01-01 00:00:40"), 1.0))
    val mon = StreamingRollups.hotKeyMonitor(
      input.toDF(), "entity_id", "1 minute", "10 seconds", maxPerWindow = 2L)
    val q = mon.writeStream.format("memory").queryName("hot")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("hot")
      .collect().map(r => r.getAs[Long]("entity_id") ->
        ((r.getAs[Long]("n_events"), r.getAs[Boolean]("alert")))).toMap
    assert(rows === Map(1L -> ((3L, true)), 2L -> ((1L, false))))
  }

  test("streaming dq monitor counts windowed violations statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    input.addData(
      (1L, ts("2024-01-01 00:00:10"), "click", 1.0),
      (2L, ts("2024-01-01 00:00:20"), "bogus", 2.0),   // bad enum
      (3L, ts("2024-01-01 00:00:30"), "view", -1.0))   // negative value
    val mon = StreamingRollups.dqMonitor(
      input.toDF().toDF("user_id", "ts", "event_type", "value"),
      "1 minute", "10 seconds")
    val q = mon.writeStream.format("memory").queryName("dqmon")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val r = spark.table("dqmon").head()
    assert(r.getAs[Long]("n_events") === 3L)
    assert(r.getAs[Long]("bad_type") === 1L)
    assert(r.getAs[Long]("bad_value") === 1L)
    assert(r.getAs[Long]("missing_user") === 0L)
    assert(r.getAs[Boolean]("alert"))
  }

  test("streaming transitions reproduce the batch transition matrix over the full events table") {
    // same §2G parity contract as the windowed rollup above: the
    // streaming per-user last-event fold replayed over the whole sf
    // events table must produce exactly the batch lag-window's
    // transition matrix — pairs, counts, AND distinct users.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val rows = ev.as[StreamingRollups.TypedEvent].collect().toSeq
    val input = MemoryStream[StreamingRollups.TypedEvent]
    input.addData(rows: _*)
    val tr = StreamingRollups.transitions(input.toDS(), "10 minutes")
    val q = tr.writeStream.format("memory").queryName("parity_tr")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val streamed = keyed(spark.table("parity_tr")
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"), countDistinct("user_id").as("n_users")))
    val batch = keyed(operators.Analytics.eventTransitions(ev))
    assert(streamed === batch)
  }

  test("streaming dedup drops late duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1L, ts("2024-01-01 00:00:10"), 10.0),
      Event(1L, ts("2024-01-01 00:00:10"), 10.0), // exact duplicate
      Event(2L, ts("2024-01-01 00:00:20"), 7.0))
    val deduped = StreamingRollups.dedup(input.toDF(), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("dedup").count() === 2)
  }

  test("event-time sessionization closes a session by watermark advance, not wall clock") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sess_out").toString
    val input = MemoryStream[Event]
    // one batch per run against a shared checkpoint: each Trigger.Once
    // run terminates cleanly (multi-batch processAllAvailable against
    // flatMapGroupsWithState hangs in this environment), and the
    // watermark persists in the checkpoint between runs
    def runOnce(): Unit = {
      val q = StreamingRollups
        .sessionizeEventTime(input.toDS(), gapMs = 5 * 60 * 1000, watermarkDelay = "10 seconds")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.Once()).start()
      assert(q.awaitTermination(120000), "sessionizeEventTime did not finish")
    }
    input.addData(
      Event(1L, ts("2024-01-01 00:00:00"), 1.0),
      Event(1L, ts("2024-01-01 00:00:30"), 2.0))
    runOnce() // watermark after this batch ≈ 00:00:20 — session open
    input.addData(Event(2L, ts("2024-01-01 01:00:00"), 7.0))
    runOnce() // advances the watermark to ≈ 00:59:50 (timeouts fire NEXT batch)
    input.addData(Event(3L, ts("2024-01-01 01:00:01"), 1.0))
    runOnce() // watermark 00:59:50 > session end 00:00:30 + 5 min gap → entity 1 closes
    val done = spark.read.parquet(out).as[Session].collect()
    assert(done.exists(s => s.entity_id == 1L && s.n_events == 2L
      && math.abs(s.total_value - 3.0) < 1e-9),
      s"expected entity 1 session closed by event time, got ${done.mkString(", ")}")
    // entity 2's session is still within its gap at the final watermark
    assert(!done.exists(_.entity_id == 2L))
  }

  test("stream-static enrichment broadcasts the dimension per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1L, ts("2024-01-01 00:00:10"), 10.0),
      Event(999999L, ts("2024-01-01 00:00:20"), 7.0)) // no dim match → left join keeps it
    val dim = sources.Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    val enriched = StreamingRollups.enrich(input.toDF(), dim, "entity_id", "c_custkey")
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("enriched").collect()
    assert(rows.length === 2)
    val byId = rows.map(r => r.getAs[Long]("entity_id") -> r.getAs[String]("c_name")).toMap
    assert(byId(1L) != null)
    assert(byId(999999L) == null)
  }

  test("sessionization closes a session after the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1L, ts("2024-01-01 00:00:00"), 1.0),
      Event(1L, ts("2024-01-01 00:00:30"), 2.0),
      Event(1L, ts("2024-01-01 00:10:00"), 4.0)) // > 5 min gap → new session
    val sessions = StreamingRollups.sessionize(input.toDS(), gapMs = 5 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").trigger(Trigger.Once()).start()
    assert(q.awaitTermination(60000), "sessionize did not finish")
    val done = spark.table("sess").as[Session].collect()
    // first session (2 events, total 3.0) closed by the arrival of the third
    assert(done.exists(s => s.n_events == 2 && math.abs(s.total_value - 3.0) < 1e-9))
  }

  test("streaming content dedup drops a re-crawled duplicate under a fresh id") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    input.addData(
      (1L, ts("2024-01-01 00:00:00"), "the same article text"),
      (2L, ts("2024-01-01 00:05:00"), "THE  same   Article text"), // dup modulo case/ws
      (3L, ts("2024-01-01 00:06:00"), "a different article"))
    val deduped = StreamingRollups.dedupContent(
      input.toDF().toDF("doc_id", "ts", "text"), "10 minutes")
    // processAllAvailable, not awaitTermination(timeout): a fixed
    // timeout under a contended host returns before the batch lands
    // and reads an empty table (observed flake)
    val q = deduped.writeStream.format("memory").queryName("cdedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("cdedup").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept.size === 2)
    assert(kept.contains(3L))
    assert(!(kept.contains(1L) && kept.contains(2L)))
  }

  test("streaming near-dup dedup closes a near-duplicate re-crawl across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    // long body: the near-dup shares ~95% of its char-5 shingles with
    // the original, so ≥1 of the 8 LSH bands collides w.h.p. (and the
    // hashes are deterministic, so this test is not flaky)
    val body = "jakarta composite index climbed more than two percent on strong " +
      "bank earnings while commodity stocks lagged the broader market as " +
      "investors rotated into financials ahead of the central bank decision " +
      "and analysts raised year end targets citing resilient consumer demand " +
      "and a stable currency outlook across the region"
    val deduped = StreamingRollups.dedupNear(
      input.toDF().toDF("doc_id", "ts", "text"), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("ndedup")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 00:00:00"), body))
      q.processAllAvailable()
      // batch 2: a re-crawl with a boilerplate footer — different
      // content fingerprint, so exact/content dedup would KEEP it —
      // plus a genuinely new document
      input.addData(
        (2L, ts("2024-01-01 00:05:00"), body + " subscribe to our daily newsletter"),
        (3L, ts("2024-01-01 00:06:00"), "volcanic ash clouds disrupted dozens of " +
          "flights across the archipelago as authorities raised the alert level " +
          "and evacuated villages near the crater overnight"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("ndedup").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(1L, 3L))
  }

  test("streaming curation pipeline: quality gate and near-dup compose across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val body = "the regional development bank approved new infrastructure funding " +
      "for port expansion and rural electrification projects across three " +
      "provinces with construction contracts awarded to local consortiums " +
      "after a competitive tender process that drew significant international " +
      "interest from engineering firms and institutional investors alike"
    // stateless quality predicate BELOW the stateful dedup: junk never
    // enters dedup state — the order a streaming curation pipeline wants
    val curated = StreamingRollups.dedupNear(
      input.toDF().toDF("doc_id", "ts", "text")
        .filter(size(split(trim(col("text")), "\\s+")) >= 20),
      "10 minutes")
    val q = curated.writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 00:00:00"), body))
      q.processAllAvailable()
      input.addData(
        (2L, ts("2024-01-01 00:04:00"), "too short to train on"), // fails the gate
        (3L, ts("2024-01-01 00:05:00"), body + " photo credit staff reporter")) // near-dup
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("curated").collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(1L))
  }

  test("streaming source monitor flags a low-quality source within its window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val good = (1 to 60).map(i => s"tok$i").mkString(" ") // quality 0.6
    input.addData(
      (1L, ts("2024-01-01 00:01:00"), "wire", good),
      (2L, ts("2024-01-01 00:03:00"), "wire", good + " extra"),   // 0.61
      (3L, ts("2024-01-01 00:02:00"), "spam", "junk junk junk junk junk"), // 0.05
      (4L, ts("2024-01-01 00:04:00"), "spam", "junk junk junk junk junk"))
    val mon = StreamingRollups.sourceMonitor(
      input.toDF().toDF("doc_id", "ts", "source", "text"),
      "10 minutes", "5 minutes")
    val q = mon.writeStream.format("memory").queryName("srcmon")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("srcmon").collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("mean_quality"),
          r.getAs[Boolean]("alert")))).toMap
    assert(rows("wire") === ((2L, 0.605, false)))
    assert(rows("spam") === ((2L, 0.05, true)))
  }

  test("streaming token monitor sums BPE tokens per source and window, stateless encode") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String, String)]
    input.addData(
      // 'table scan' under the merges below → [table, scan] = 2 tokens
      (1L, ts("2024-01-01 00:01:00"), "wire", "table scan"),
      (2L, ts("2024-01-01 00:03:00"), "wire", "table"), // 1 token
      (3L, ts("2024-01-01 00:12:00"), "wire", "big query")) // [b,i,g] + [qu,e,r,y] = 7
    val merges = Seq("t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e",
      "s" -> "c", "sc" -> "a", "sca" -> "n", "q" -> "u")
    val mon = StreamingRollups.tokenMonitor(
      input.toDF().toDF("doc_id", "ts", "source", "text"),
      merges, "10 minutes", "5 minutes")
    val q = mon.writeStream.format("memory").queryName("tokmon")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("tokmon").collect().map { r =>
      r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[Timestamp]("start").toString ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_tokens")))
    }.toMap
    assert(rows("2024-01-01 00:00:00.0") === ((2L, 3L)))
    assert(rows("2024-01-01 00:10:00.0") === ((1L, 7L)))
  }

  test("streaming cardinality monitor tracks windowed distinct users within the sketch bound") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    // window 1: 40 distinct users, 10 of them seen twice (50 events —
    // distinct must not count repeats); window 2: 5 distinct users
    val w1 = (1 to 40).map(u => (u.toLong, ts("2024-01-01 00:02:00"), "wire")) ++
      (1 to 10).map(u => (u.toLong, ts("2024-01-01 00:05:00"), "wire"))
    val w2 = (1 to 5).map(u => (u.toLong, ts("2024-01-01 00:12:00"), "wire"))
    input.addData(w1 ++ w2: _*)
    val mon = StreamingRollups.cardinalityMonitor(
      input.toDF().toDF("user_id", "ts", "source"),
      "source", "user_id", "10 minutes", "5 minutes")
    val q = mon.writeStream.format("memory").queryName("cardmon")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("cardmon").collect().map { r =>
      r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[Timestamp]("start").toString ->
        ((r.getAs[Long]("approx_distinct"), r.getAs[Long]("n_events")))
    }.toMap
    assert(rows.size === 2, rows.toString)
    val (a1, n1) = rows("2024-01-01 00:00:00.0")
    val (a2, n2) = rows("2024-01-01 00:10:00.0")
    assert(n1 === 50L && n2 === 5L)
    // 3x the declared rsd (0.02): the same bound the batch gate pins
    assert(math.abs(a1 - 40L) <= math.ceil(40 * 0.06).toLong, s"w1 approx $a1")
    assert(math.abs(a2 - 5L) <= 1L, s"w2 approx $a2")
  }

  test("streaming decontamination flags a benchmark-overlapping doc statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // "benchmark": one eval question; its grams collected the way a
    // real caller would (explode the bounded bench table, distinct)
    val benchText = "what is the capital of france and when was it founded by the romans"
    val benchGrams = spark.createDataset(Seq(benchText))
      .select(org.apache.spark.sql.functions.explode(
        graft.plans.HashExprs.wordNgrams(
          graft.functions.TextAnalysis.normalizeWs(
            org.apache.spark.sql.functions.col("value")), 8)).as("gram"))
      .distinct().collect().map(_.getString(0)).toSeq
    val input = MemoryStream[(Long, String)]
    input.addData(
      // contains a verbatim 8-gram from the bench question
      (1L, "trivia dump: what is the capital of france and when was it " +
        "founded remains a common interview question"),
      // same vocabulary but no shared 8-gram
      (2L, "paris is the capital of france"),
      (3L, "completely unrelated text about spark shuffles and partitions"))
    val flagged = StreamingRollups.decontaminateFlag(
      input.toDF().toDF("doc_id", "text"), benchGrams)
    val q = flagged.writeStream.format("memory").queryName("decon")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val byId = spark.table("decon").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(byId === Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("stream-stream interval join pairs events within the time bound only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    clicks.addData(
      Event(1L, ts("2024-01-01 00:00:00"), 1.0),
      Event(2L, ts("2024-01-01 00:00:00"), 2.0))
    purchases.addData(
      Event(1L, ts("2024-01-01 00:03:00"), 10.0),  // within 5 min after → joins
      Event(1L, ts("2024-01-01 00:20:00"), 20.0),  // outside bound → dropped
      Event(2L, ts("2023-12-31 23:59:30"), 30.0))  // 30 s BEFORE, within 1 min → joins
    val joined = StreamingRollups.intervalJoin(
      clicks.toDF(), purchases.toDF(), "entity_id",
      watermark = "10 seconds", before = "1 MINUTE", after = "5 MINUTES")
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode("append").trigger(Trigger.Once()).start()
    assert(q.awaitTermination(60000), "intervalJoin did not finish")
    val rows = spark.table("ij")
      .select(col("entity_id"), col("r_value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows === Set((1L, 10.0), (2L, 30.0)))
  }

  test("streaming load stage upserts partitions idempotently via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_load").toString
    val ckpt1 = java.nio.file.Files.createTempDirectory("graft_load_ck1").toString
    val input = MemoryStream[Event]
    input.addData(
      Event(1L, ts("2024-01-01 00:00:00"), 1.0),
      Event(2L, ts("2024-01-02 00:00:00"), 2.0))
    def run(ckpt: String, in: MemoryStream[Event]): Unit = {
      val q = StreamingRollups.loadStream(
        in.toDF().withColumn("day", to_date(col("ts"))),
        path, Seq("day"), ckpt).trigger(Trigger.Once()).start()
      assert(q.awaitTermination(60000), "loadStream did not finish")
    }
    run(ckpt1, input)
    assert(spark.read.parquet(path).count() === 2)
    // replay the same day from a fresh checkpoint, one row changed:
    // dynamic partition overwrite must REPLACE the day, not append
    val replay = MemoryStream[Event]
    replay.addData(Event(1L, ts("2024-01-01 00:00:00"), 9.0))
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_load_ck2").toString
    run(ckpt2, replay)
    val rows = spark.read.parquet(path)
      .select(col("entity_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows === Set((1L, 9.0), (2L, 2.0)))
  }

  test("streaming OHLC bars reproduce the batch candlesticks over the full events table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    val agg = StreamingRollups.ohlcWindowed(input.toDF(), "1 day", "10 seconds")
    val q = agg.writeStream.format("memory").queryName("parity_ohlc")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window.start").as("ws"), col("user_id"),
        col("open"), col("high"), col("low"), col("close"), col("n_obs"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))).toMap
    val streamed = keyed(spark.table("parity_ohlc"))
    // the batch oracle: identical grouping + min_by/max_by over the
    // same composite order key (the ohlcResample machinery windowed)
    val okey = concat(
      lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 12, "0"))
    val batch = keyed(ev
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 day"), col("user_id"))
      .agg(round(min_by(col("value"), okey), 2).as("open"),
        round(max(col("value")), 2).as("high"),
        round(min(col("value")), 2).as("low"),
        round(max_by(col("value"), okey), 2).as("close"),
        count(lit(1)).as("n_obs")))
    assert(streamed === batch, "stream-vs-batch candlestick parity")
    assert(streamed.nonEmpty)
  }

  test("streaming movers reproduce the batch change table for all closed days") {
    // parity contract: replaying the whole events table must emit, for
    // every series, the close-to-close bp change of every day EXCEPT
    // the series' final one (still open — a stream can't know a day
    // ended until a later tick arrives) and its first (no predecessor),
    // each bit-equal to the batch identity column.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    val mv = StreamingRollups.movers(input.toDS(), "10 minutes")
    val q = mv.writeStream.format("memory").queryName("parity_mv")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Long]("prev_close_cents"), r.getAs[Long]("close_cents"),
          r.getAs[Long]("change_bp")))).toMap
    val streamed = keyed(spark.table("parity_mv"))
    val okey = concat(
      lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 12, "0"))
    val daily = ev
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg((max_by(round(col("value"), 2), okey).cast("decimal(18,2)") * 100)
        .cast("long").as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = keyed(daily
      .withColumn("p", lag(col("c"), 1).over(w))
      .withColumn("maxd", max(col("day")).over(wAll))
      .filter(col("p").isNotNull && col("day") < col("maxd") &&
        col("p") > 0 && col("c") > 0)
      .select(col("user_id"), col("day"),
        col("p").as("prev_close_cents"), col("c").as("close_cents"),
        expr("(2 * c * 10000 + p) div (2 * p) - 10000").as("change_bp")))
    assert(streamed === batch, "stream-vs-batch movers parity")
    assert(streamed.nonEmpty)
  }

  test("streaming RSI reproduces the batch indicator for every closed day") {
    // bounded-state windowed indicator: n delta longs per series. The
    // stream must emit the batch rsi_cutler row for every day the
    // batch emits except each series' final (still-open) day.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    // n = 5 so sf0.001's short per-series day spans still fill frames
    val rsi = StreamingRollups.rsiStream(input.toDS(), "10 minutes", n = 5)
    val q = rsi.writeStream.format("memory").queryName("parity_rsi")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        r.getAs[Long]("rsi_bp")).toMap
    val streamed = keyed(spark.table("parity_rsi"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = keyed(operators.Finance.rsiCutler(ev, n = 5)
      .withColumn("maxd", max(col("day")).over(
        wAll.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(col("day") < col("maxd"))
      .select("user_id", "day", "rsi_bp"))
    assert(streamed === batch, "stream-vs-batch RSI parity")
    assert(streamed.nonEmpty)
  }

  test("RSI idle timeout flushes the still-open day with the flag on, then the series re-seeds") {
    // the documented idle-gap caveat turned tested behavior:
    // emitOpenOnTimeout = true finalizes the open day at state drop
    // (same finalize step as a day-boundary tick → the batch row),
    // and a resumed series restarts its recursion from the resume
    // point. Multi-batch via Trigger.Once runs against a shared
    // checkpoint (the sessionization-spec pattern — watermark
    // advances between runs, timeouts fire on the NEXT batch).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rsi_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_rsi_out").toString
    val input = MemoryStream[Tick]
    def runOnce(): Unit = {
      val q = StreamingRollups
        .rsiStream(input.toDS(), "10 seconds", n = 2,
          idleMs = 24L * 3600 * 1000, emitOpenOnTimeout = true)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.Once()).start()
      assert(q.awaitTermination(120000), "rsiStream did not finish")
    }
    // user 1: closes 1.00, 2.00, 1.50, then day 4 opens at 3.00
    input.addData(
      Tick(1L, 1L, ts("2024-01-01 00:00:00"), 1.0),
      Tick(1L, 2L, ts("2024-01-02 00:00:00"), 2.0),
      Tick(1L, 3L, ts("2024-01-03 00:00:00"), 1.5),
      Tick(1L, 4L, ts("2024-01-04 00:00:00"), 3.0))
    runOnce() // Jan 3 closes in-stream: deltas [+100, -50] → 6667
    input.addData(Tick(2L, 5L, ts("2024-01-20 00:00:00"), 9.0))
    runOnce() // watermark → ≈ Jan 20, past user 1's Jan 5 timeout
    input.addData(Tick(2L, 6L, ts("2024-01-21 00:00:00"), 9.0))
    runOnce() // user 1's timeout FIRES: Jan 4 flushes, deltas [-50, +150] → 7500
    // resume: the recursion re-seeds — Jan 24 is the first emittable
    // day of the restarted series (deltas [+100, +200] → 10000)
    input.addData(
      Tick(1L, 7L, ts("2024-01-22 00:00:00"), 1.0),
      Tick(1L, 8L, ts("2024-01-23 00:00:00"), 2.0),
      Tick(1L, 9L, ts("2024-01-24 00:00:00"), 4.0),
      Tick(1L, 10L, ts("2024-01-25 00:00:00"), 5.0))
    runOnce()
    val got = spark.read.parquet(out)
      .filter(col("user_id") === 1L)
      .collect().map(r => r.getAs[String]("day") -> r.getAs[Long]("rsi_bp")).toMap
    assert(got === Map(
      "2024-01-03" -> 6667L,   // closed by a day-boundary tick
      "2024-01-04" -> 7500L,   // FLUSHED by the idle timeout
      "2024-01-24" -> 10000L), // post-resume, re-seeded recursion
      s"timeout-flush/resume emissions: $got")
  }

  test("day-close driver: HA and CUSUM parity holds with bars spanning three micro-batches") {
    // the parity specs replay their data as ONE batch, so the driver's
    // state is never read back; here the same rows arrive as three
    // Trigger.Once batches on one checkpoint. The first cut splits day
    // d1 by event_id parity, so a later batch brings ticks that precede
    // ones already folded into the open bar (the open leg moves across
    // batches); the second cuts day d2 at noon. The watermark delay
    // covers the within-day disorder and idleMs the whole span, so no
    // tick is late and no state times out.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq.sortBy(t => (t.ts.getTime, t.event_id))
    def day(t: Tick) = t.ts.toInstant.toString.take(10) // UTC yyyy-MM-dd
    val d1 = day(rows(rows.size / 3))
    val d2 = day(rows(2 * rows.size / 3))
    assert(d1 < d2, s"cut days collapse: $d1 $d2")
    def batchOf(t: Tick): Int =
      if (day(t) < d1 || (day(t) == d1 && t.event_id % 2 == 1)) 0
      else if (day(t) < d2 || (day(t) == d2 && t.ts.toInstant.toString.substring(11, 13) < "12")) 1
      else 2
    val batches = rows.groupBy(batchOf)
    // the split must move some series' open leg backwards across batches
    val d1Ticks = rows.filter(day(_) == d1).groupBy(t => (t.user_id, batchOf(t)))
    assert(rows.map(_.user_id).distinct.exists { u =>
      (d1Ticks.get((u, 0)), d1Ticks.get((u, 1))) match {
        case (Some(a), Some(b)) => b.head.ts.before(a.head.ts)
        case _ => false
      }
    }, s"no series has a day-$d1 tick in batch 2 earlier than its batch-1 ticks")
    val idleMs = 365L * 24 * 3600 * 1000
    def replay(name: String, stream: org.apache.spark.sql.Dataset[Tick] =>
        org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.DataFrame = {
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_${name}_ckpt").toString
      val out = java.nio.file.Files.createTempDirectory(s"graft_${name}_out").toString
      val input = MemoryStream[Tick]
      (0 to 2).foreach { b =>
        input.addData(batches.getOrElse(b, Seq.empty): _*)
        val q = stream(input.toDS()).writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.Once()).start()
        assert(q.awaitTermination(120000), s"$name did not finish")
      }
      spark.read.parquet(out)
    }
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    def closedDays(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("maxd", max(col("day")).over(wAll)).filter(col("day") < col("maxd"))

    def haKeyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Double]("ha_open"), r.getAs[Double]("ha_high"),
          r.getAs[Double]("ha_low"), r.getAs[Double]("ha_close")))).toMap
    val haStreamed = haKeyed(replay("ha3",
      StreamingRollups.heikinAshiStream(_, "2 days", idleMs = idleMs)))
    val haBatch = haKeyed(closedDays(operators.Finance.heikinAshi(ev))
      .select("user_id", "day", "ha_open", "ha_high", "ha_low", "ha_close"))
    assert(haStreamed === haBatch, "three-batch Heikin-Ashi parity")
    assert(haStreamed.nonEmpty)

    def cusumKeyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Double]("target"), r.getAs[Long]("s_pos"),
          r.getAs[Long]("s_neg"), r.getAs[Boolean]("alarm")))).toMap
    val calib = operators.TimeSeries.cusumCalibration(ev)
    val cuStreamed = cusumKeyed(replay("cusum3",
      StreamingRollups.cusumStream(_, calib, "2 days", idleMs = idleMs)))
    val cuBatch = cusumKeyed(closedDays(operators.TimeSeries.cusumChangepoint(ev))
      .select("user_id", "day", "target", "s_pos", "s_neg", "alarm"))
    assert(cuStreamed === cuBatch, "three-batch CUSUM parity")
    assert(cuStreamed.values.exists(_._4) && cuStreamed.values.exists(!_._4),
      "expected both alarm states across the parity corpus")
  }

  test("day-close driver: a late tick for a closed day emits nothing and changes no later day") {
    // one tick a day, so each Heikin-Ashi candle is hand-checkable:
    // Jan 1 = 1.00 → (1.0, 1.0, 1.0, 1.0); Jan 2 = 2.00 → ha_open4 =
    // (400 + 400 + 1) div 2 = 400 → (1.0, 2.0, 1.0, 2.0); Jan 3 = 1.50
    // → ha_open4 = (400 + 800 + 1) div 2 = 600 → (1.5, 1.5, 1.5, 1.5).
    // The late Jan 1 tick passes the 3-day watermark, so the driver,
    // not the engine, must drop it: folded anywhere, its 100.00 would
    // move a candle.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ckpt = java.nio.file.Files.createTempDirectory("graft_late_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_late_out").toString
    val input = MemoryStream[Tick]
    def runOnce(): Set[(String, (Double, Double, Double, Double))] = {
      val q = StreamingRollups.heikinAshiStream(input.toDS(), "3 days")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.Once()).start()
      assert(q.awaitTermination(120000), "heikinAshiStream did not finish")
      spark.read.parquet(out).collect().map(r => r.getAs[String]("day") ->
        ((r.getAs[Double]("ha_open"), r.getAs[Double]("ha_high"),
          r.getAs[Double]("ha_low"), r.getAs[Double]("ha_close")))).toSet
    }
    input.addData(
      Tick(1L, 1L, ts("2024-01-01 00:00:00"), 1.0),
      Tick(1L, 2L, ts("2024-01-02 00:00:00"), 2.0))
    val first = runOnce() // Jan 1 closes
    input.addData(Tick(1L, 99L, ts("2024-01-01 12:00:00"), 100.0))
    val afterLate = runOnce() // late for the closed Jan 1
    assert(afterLate === first, s"the late tick emitted: ${afterLate -- first}")
    input.addData(
      Tick(1L, 3L, ts("2024-01-03 00:00:00"), 1.5),
      Tick(1L, 4L, ts("2024-01-04 00:00:00"), 3.0))
    assert(runOnce() === Set(
      "2024-01-01" -> ((1.0, 1.0, 1.0, 1.0)),
      "2024-01-02" -> ((1.0, 2.0, 1.0, 2.0)),
      "2024-01-03" -> ((1.5, 1.5, 1.5, 1.5))))
  }

  test("day-close driver: an event_id outside 12 digits fails the query") {
    // the order key pads event_id to 12 digits; a wider id would
    // misorder silently, so the data-contract require stops the query
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val input = MemoryStream[Tick]
    input.addData(Tick(1L, 1000000000000L, ts("2024-01-01 00:00:00"), 1.0))
    val q = StreamingRollups.movers(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("order_key_domain")
      .outputMode("append").trigger(Trigger.Once()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.awaitTermination() finally q.stop()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage))
    assert(messages.exists(_.contains("12-digit order-key domain")), e.toString)
  }

  test("day-close driver: a tick outside the cents domain fails the query") {
    // the batch bars pack cents + 5·10⁸ into a 9-digit lane; the stream
    // enforces the same bound, so a $6,000,000.00 tick stops the query
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val input = MemoryStream[Tick]
    input.addData(Tick(1L, 1L, ts("2024-01-01 00:00:00"), 6000000.0))
    val q = StreamingRollups.movers(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("cents_domain")
      .outputMode("append").trigger(Trigger.Once()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.awaitTermination() finally q.stop()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage))
    assert(messages.exists(_.contains(operators.Finance.CentsDomain)), e.toString)
  }

  test("streaming MACD reproduces the batch recursion for every closed day") {
    // the EMA recursion as three micro-cent longs of state (signed
    // HALF_UP steps): every finalized day's (macd, signal, histogram)
    // must be bit-equal to the batch fold's row; parity holds on all
    // days except each series' last
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    val macd = StreamingRollups.macdStream(input.toDS(), "10 minutes")
    val q = macd.writeStream.format("memory").queryName("parity_macd")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Double]("macd"), r.getAs[Double]("signal"),
          r.getAs[Double]("histogram")))).toMap
    val streamed = keyed(spark.table("parity_macd"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = keyed(operators.Finance.macd(ev)
      .withColumn("maxd", max(col("day")).over(
        wAll.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(col("day") < col("maxd"))
      .select("user_id", "day", "macd", "signal", "histogram"))
    assert(streamed === batch, "stream-vs-batch MACD parity")
    assert(streamed.nonEmpty)
  }

  test("streaming Keltner reproduces both batch folds for every closed day") {
    // the EMA midline + Wilder ATR as a handful of longs of state;
    // every emitted day must be bit-equal to the batch integer folds
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    // atrN = 5 so sf0.001's short per-series day spans still seed
    val kelt = StreamingRollups.keltnerStream(input.toDS(), "10 minutes", atrN = 5)
    val q = kelt.writeStream.format("memory").queryName("parity_keltner")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Double]("mid"), r.getAs[Double]("atr"),
          r.getAs[Double]("upper_band"), r.getAs[Double]("lower_band")))).toMap
    val streamed = keyed(spark.table("parity_keltner"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = keyed(operators.Finance.keltner(ev, atrN = 5)
      .withColumn("maxd", max(col("day")).over(
        wAll.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(col("day") < col("maxd"))
      .select("user_id", "day", "mid", "atr", "upper_band", "lower_band"))
    assert(streamed === batch, "stream-vs-batch Keltner parity")
    assert(streamed.nonEmpty)
  }

  test("streaming SuperTrend reproduces the batch band recursion for every closed day") {
    // the conditional band recursion as seven longs of state: the
    // ratchets, resets, and trend flips must take the SAME BIGINT
    // branches as the batch fold — every finalized day bit-equal,
    // including the trend sign (the live flip alert)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    // n = 5 so sf0.001's short per-series day spans still seed
    val st = StreamingRollups.supertrendStream(input.toDS(), "10 minutes", n = 5)
    val q = st.writeStream.format("memory").queryName("parity_supertrend")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Double]("upper_band"), r.getAs[Double]("lower_band"),
          r.getAs[Long]("trend"), r.getAs[Double]("supertrend")))).toMap
    val streamed = keyed(spark.table("parity_supertrend"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = keyed(operators.Finance.supertrend(ev, n = 5)
      .withColumn("maxd", max(col("day")).over(
        wAll.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(col("day") < col("maxd"))
      .select("user_id", "day", "upper_band", "lower_band", "trend", "supertrend"))
    assert(streamed === batch, "stream-vs-batch SuperTrend parity")
    assert(streamed.nonEmpty)
    // the corpus must actually exercise both trend regimes, or the
    // flip branch is untested
    assert(streamed.values.exists(_._3 == 1L) &&
      streamed.values.exists(_._3 == -1L),
      "expected both trend signs across the parity corpus")
  }

  test("streaming Donchian reproduces the batch channel for every closed day") {
    // rolling envelope as a bounded n-deque; yesterday's channel must
    // follow the batch lag(u) semantics incl. partial frames
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    val don = StreamingRollups.donchianStream(input.toDS(), "10 minutes", n = 5)
    val q = don.writeStream.format("memory").queryName("parity_donchian")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Double]("upper_band"), r.getAs[Double]("lower_band"),
          r.getAs[Double]("mid"), r.getAs[String]("signal")))).toMap
    val streamed = keyed(spark.table("parity_donchian"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = keyed(operators.Finance.donchianChannels(ev, n = 5)
      .withColumn("maxd", max(col("day")).over(
        wAll.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(col("day") < col("maxd"))
      .select("user_id", "day", "upper_band", "lower_band", "mid", "signal"))
    assert(streamed === batch, "stream-vs-batch Donchian parity")
    assert(streamed.nonEmpty)
  }

  test("streaming Heikin-Ashi reproduces the batch candle recursion for every closed day") {
    // the since-inception ha_open carry as two quarter-cent longs;
    // the open leg exercises the day's FIRST tick (min order key),
    // which no other streaming indicator tracks
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    val ha = StreamingRollups.heikinAshiStream(input.toDS(), "10 minutes")
    val q = ha.writeStream.format("memory").queryName("parity_heikin")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Double]("ha_open"), r.getAs[Double]("ha_high"),
          r.getAs[Double]("ha_low"), r.getAs[Double]("ha_close")))).toMap
    val streamed = keyed(spark.table("parity_heikin"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = keyed(operators.Finance.heikinAshi(ev)
      .withColumn("maxd", max(col("day")).over(
        wAll.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(col("day") < col("maxd"))
      .select("user_id", "day", "ha_open", "ha_high", "ha_low", "ha_close"))
    assert(streamed === batch, "stream-vs-batch Heikin-Ashi parity")
    assert(streamed.nonEmpty)
  }

  test("streaming ADX reproduces the batch directional system for every closed day") {
    // four chained Wilder folds as bounded state; emission must start
    // at exactly the batch delta row 2n-1 and every HALF_UP division
    // must take the same integer branch
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    // n = 5 so the ~27-day sf0.001 series clear the 2n-day seed span
    val adx = StreamingRollups.adxStream(input.toDS(), "10 minutes", n = 5)
    val q = adx.writeStream.format("memory").queryName("parity_adx")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Long]("di_plus_bp"), r.getAs[Long]("di_minus_bp"),
          r.getAs[Long]("adx_bp")))).toMap
    val streamed = keyed(spark.table("parity_adx"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = keyed(operators.Finance.adx(ev, n = 5)
      .withColumn("maxd", max(col("day")).over(
        wAll.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(col("day") < col("maxd"))
      .select("user_id", "day", "di_plus_bp", "di_minus_bp", "adx_bp"))
    assert(streamed === batch, "stream-vs-batch ADX parity")
    assert(streamed.nonEmpty)
    // both directional regimes must occur or the DM branch asymmetry
    // is untested
    assert(streamed.values.exists(v => v._1 > v._2) &&
      streamed.values.exists(v => v._2 > v._1),
      "expected both DI+ and DI- dominance across the parity corpus")
  }

  test("streaming takedown tombstones an index within one trigger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tbl = "g_stream_takedown_idx"
    Seq(tbl, s"${tbl}_tombstones").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(wh, t))
    }
    val corpus = sources.Tables.documents(spark, sfDir)
    operators.Dedup.writeMinhashIndex(corpus, tbl)
    val before = operators.Dedup.minhashLshIndexed(spark, tbl, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.nonEmpty)
    val victim = before.head._1
    // the deletion-request stream: one micro-batch carrying the id
    val requests = MemoryStream[Long]
    requests.addData(victim)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_takedown_ck").toString
    val q = StreamingRollups.takedownStream(
      requests.toDF().withColumnRenamed("value", "doc_id"), tbl, ckpt)
      .trigger(Trigger.Once()).start()
    assert(q.awaitTermination(60000), "takedownStream did not finish")
    val after = operators.Dedup.minhashLshIndexed(spark, tbl, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === before.filterNot(p => p._1 == victim || p._2 == victim))
  }

  test("streaming index-append equals the batch append; a redelivered batch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val strTbl = "g_stream_append_idx"
    val batTbl = "g_batch_append_idx"
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    Seq(strTbl, batTbl, s"${strTbl}_applied_batches").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(wh, t))
    }
    val docs = sources.Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 13 =!= 0)
    val arriving = docs.filter(col("doc_id") % 13 === 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    operators.Dedup.writeMinhashIndex(corpus, strTbl)
    operators.Dedup.writeMinhashIndex(corpus, batTbl)
    // the batch lifecycle append — the parity reference
    operators.Dedup.appendToMinhashIndex(
      docs.filter(col("doc_id") % 13 === 0), batTbl)
    def runStream(data: Seq[(Long, String)], ck: String): Unit = {
      val in = MemoryStream[(Long, String)]
      in.addData(data: _*)
      val q = StreamingRollups.indexAppendStream(
        in.toDF().toDF("doc_id", "text"), strTbl, ck,
        streamId = Some("spec-stream"))
        .trigger(Trigger.Once()).start()
      assert(q.awaitTermination(60000), "indexAppendStream did not finish")
    }
    runStream(arriving,
      java.nio.file.Files.createTempDirectory("graft_idxapp_ck1").toString)
    def indexRows(t: String) = spark.table(t).collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // parity: the stream-ingested index IS the batch-appended index
    assert(indexRows(strTbl) === indexRows(batTbl))
    // redelivery: the same logical stream replays batch id 0 (fresh
    // checkpoint, e.g. after checkpoint loss) — applyBatchOnce must
    // make it a no-op, not a double-append
    runStream(arriving,
      java.nio.file.Files.createTempDirectory("graft_idxapp_ck2").toString)
    assert(indexRows(strTbl) === indexRows(batTbl),
      "redelivered micro-batch double-appended")
    // and the appended batch is LIVE for the next against-index check
    val probe = operators.Dedup.minhashLshAgainstIndex(
      spark, strTbl, docs.filter(col("doc_id") % 13 === 0), docs)
    assert(probe.filter(col("b") % 13 === 0).count() ===
      operators.Dedup.minhashLshAgainstIndex(
        spark, batTbl, docs.filter(col("doc_id") % 13 === 0), docs)
        .filter(col("b") % 13 === 0).count())
  }

  test("streaming cluster upsert equals the batch upsert; a redelivered batch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val strTbl = "g_stream_ups_cluster"
    val batTbl = "g_batch_ups_cluster"
    val mhTbl = "g_stream_ups_minhash"
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    Seq(strTbl, batTbl, mhTbl,
        s"${strTbl}_applied_batches",
        operators.Dedup.staleClusterTable(strTbl),
        operators.Dedup.staleClusterTable(batTbl)).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(wh, t))
    }
    val docs = sources.Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 13 =!= 0)
    val batch = docs.filter(col("doc_id") % 13 === 0)
    operators.Dedup.writeMinhashIndex(corpus, mhTbl)
    operators.Dedup.writeClusterIndex(corpus, strTbl)
    operators.Dedup.writeClusterIndex(corpus, batTbl)
    // the batch write-back — the parity reference
    operators.Dedup.upsertClusterIndex(spark, mhTbl, batTbl, batch, corpus)
    val arriving = batch.select("doc_id", "text").as[(Long, String)].collect().toSeq
    def runStream(ck: String): Unit = {
      val in = MemoryStream[(Long, String)]
      in.addData(arriving: _*)
      val q = StreamingRollups.clusterUpsertStream(
        in.toDF().toDF("doc_id", "text"), mhTbl, strTbl, corpus, ck,
        streamId = Some("spec-ups-stream"))
        .trigger(Trigger.Once()).start()
      assert(q.awaitTermination(60000), "clusterUpsertStream did not finish")
    }
    runStream(java.nio.file.Files.createTempDirectory("graft_ups_ck1").toString)
    def liveRows(t: String) = operators.Dedup.liveClusterRows(spark, t)
      .select("doc_id", "cluster_id").collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // parity: stream-merged live rows ≡ batch-merged live rows
    assert(liveRows(strTbl) === liveRows(batTbl))
    // redelivery (fresh checkpoint, same streamId → batch id 0 again):
    // an upsert is read-modify-write, so without the guard this would
    // re-stale-mark and re-append — the live view must not change
    runStream(java.nio.file.Files.createTempDirectory("graft_ups_ck2").toString)
    assert(liveRows(strTbl) === liveRows(batTbl),
      "redelivered upsert micro-batch changed the live assignment")
  }

  test("streaming semantic upsert equals the batch upsert; a redelivered batch is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val strTbl = "g_stream_ups_sem"
    val batTbl = "g_batch_ups_sem"
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    Seq(strTbl, batTbl,
        s"${strTbl}_applied_batches",
        operators.Dedup.staleClusterTable(strTbl),
        operators.Dedup.staleClusterTable(batTbl)).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(wh, t))
    }
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val residue = vecs.filter(col("vec_id") % 13 =!= 0)
    val batch = vecs.filter(col("vec_id") % 13 === 0)
    val cents = operators.Similarity.headCodebookSized(residue)
    val ivf = java.nio.file.Files.createTempDirectory("g_sem_ups_stream_ivf").toString
    operators.Similarity.writeIvfIndexWith(residue, ivf, cents)
    operators.Similarity.writeSemanticClusterIndex(residue, cents, strTbl)
    operators.Similarity.writeSemanticClusterIndex(residue, cents, batTbl)
    operators.Similarity.upsertSemanticClusterIndex(spark, ivf, batTbl, batch)
    val arriving = batch.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    def runStream(ck: String): Unit = {
      val in = MemoryStream[(Long, Array[Float])]
      in.addData(arriving: _*)
      val q = StreamingRollups.semanticUpsertStream(
        in.toDF().toDF("vec_id", "embedding"), ivf, strTbl, ck,
        streamId = Some("spec-sem-ups-stream"))
        .trigger(Trigger.Once()).start()
      assert(q.awaitTermination(60000), "semanticUpsertStream did not finish")
    }
    runStream(java.nio.file.Files.createTempDirectory("graft_sups_ck1").toString)
    def liveRows(t: String) = operators.Dedup.liveClusterRows(spark, t)
      .select("doc_id", "cluster_id").collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(liveRows(strTbl) === liveRows(batTbl))
    runStream(java.nio.file.Files.createTempDirectory("graft_sups_ck2").toString)
    assert(liveRows(strTbl) === liveRows(batTbl),
      "redelivered semantic upsert micro-batch changed the live assignment")
  }

  test("streaming two-level IVF append equals the factored batch append; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val residue = vecs.filter(col("vec_id") % 13 =!= 0)
    val batch = vecs.filter(col("vec_id") % 13 === 0)
    val strDir = java.nio.file.Files.createTempDirectory("g_ivf2_str").toString
    val batDir = java.nio.file.Files.createTempDirectory("g_ivf2_bat").toString
    operators.Similarity.writeTwoLevelIvfIndex(residue, strDir)
    operators.Similarity.writeTwoLevelIvfIndex(residue, batDir)
    operators.Similarity.appendToTwoLevelIvfIndex(spark, batDir, batch)
    val arriving = batch.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    def runStream(ck: String): Unit = {
      val in = MemoryStream[(Long, Array[Float])]
      in.addData(arriving: _*)
      val q = StreamingRollups.ivfTwoLevelAppendStream(
        in.toDF().toDF("vec_id", "embedding"), strDir, ck,
        streamId = Some("spec-ivf2-stream"))
        .trigger(Trigger.Once()).start()
      assert(q.awaitTermination(60000), "ivfTwoLevelAppendStream did not finish")
    }
    runStream(java.nio.file.Files.createTempDirectory("g_ivf2_ck1").toString)
    def assigned(dir: String) = spark.read.parquet(s"$dir/assigned")
      .select("vec_id", "list_id").collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // parity: the stream routes batches through the SAME factored pass
    assert(assigned(strDir) === assigned(batDir))
    runStream(java.nio.file.Files.createTempDirectory("g_ivf2_ck2").toString)
    assert(assigned(strDir) === assigned(batDir),
      "redelivered two-level append micro-batch double-appended")
  }

  test("applyBatchOnceStagedAt: every crash window replays exactly-once") {
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val residue = vecs.filter(col("vec_id") % 13 =!= 0)
    val batchA = vecs.filter(col("vec_id") % 26 === 0)
    val batchB = vecs.filter(col("vec_id") % 13 === 0 && col("vec_id") % 26 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("g_staged_once").toString
    operators.Similarity.writeIvfIndex(residue, dir)
    val dataDir = s"$dir/assigned"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def stage(batch: org.apache.spark.sql.DataFrame)(tmp: String): Unit =
      operators.Similarity.assignUnderIndex(spark, dir, batch)
        .write.mode("overwrite").partitionBy("list_id").parquet(tmp)
    def count() = spark.read.parquet(dataDir).count()
    val base = count()
    val nA = batchA.count()
    val nB = batchB.count()
    assert(nA > 0 && nB > 0)

    // CRASH WINDOW 1: after the staging-commit rename, before any fold
    // — the batch is durable but invisible; replay folds exactly once
    // and must NOT re-run the stage
    val committedA = s"$dir/_staging/sid/0"
    stage(batchA)(s"$committedA.tmp")
    fs.mkdirs(p(committedA).getParent)
    assert(fs.rename(p(s"$committedA.tmp"), p(committedA)))
    assert(count() === base, "staged batch visible before the fold")
    val ran1 = sources.IndexMaintenance.applyBatchOnceStagedAt(
      spark, dir, dataDir, "sid", 0) { _ =>
      fail("stage re-ran despite a committed staging")
    }
    assert(ran1 && count() === base + nA)

    // CRASH WINDOW 2: after the fold, before the mark — replay must
    // resume (no-op fold), write the mark, and NOT double-append
    val committedB = s"$dir/_staging/sid/1"
    stage(batchB)(s"$committedB.tmp")
    assert(fs.rename(p(s"$committedB.tmp"), p(committedB)))
    sources.IndexMaintenance.foldInto(fs, p(committedB), p(dataDir))
    assert(count() === base + nA + nB)
    val ran2 = sources.IndexMaintenance.applyBatchOnceStagedAt(
      spark, dir, dataDir, "sid", 1) { _ =>
      fail("stage re-ran despite a committed staging")
    }
    assert(ran2 && count() === base + nA + nB,
      "post-fold replay double-appended")

    // fully-applied replay (mark present): pure no-op
    for (bid <- Seq(0L, 1L)) {
      val ran = sources.IndexMaintenance.applyBatchOnceStagedAt(
        spark, dir, dataDir, "sid", bid) { _ =>
        fail("stage re-ran on a marked batch")
      }
      assert(!ran)
    }
    assert(count() === base + nA + nB)
    // the staged-and-folded index answers exactly like brute force
    val probe = operators.Similarity.ivfTopKExactIndexed(spark, dir, 7L, 20)
      .collect().toSeq
    val brute = operators.Similarity.bruteForceTopK(vecs, 7L, 20)
      .collect().toSeq
    assert(probe === brute)
  }

  test("applyBatchOnceStagedTable: every crash window replays exactly-once (minhash rows, BM25 absolute stats)") {
    import spark.implicits._
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    def reset(ts: String*): Unit = ts.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(wh, t))
    }
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def loc(table: String): String =
      spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
        .find(_.getString(0) == "Location").get.getString(1)
    // manufacture the protocol's own commit marker (the crash seam the
    // production code crosses in one rename)
    def commitMarker(table: String, sid: String, bid: Long,
                     props: Map[String, String]): String = {
      val dir = s"$wh/${table}_staged_commit"
      val tmp = s"$dir.tmp"
      Seq((sid, bid)).toDF("stream_id", "batch_id")
        .coalesce(1).write.parquet(s"$tmp/id")
      props.toSeq.toDF("key", "value").coalesce(1).write.parquet(s"$tmp/props")
      assert(fs.rename(p(tmp), p(dir)))
      dir
    }

    val corpus = sources.Tables.documents(spark, sfDir)
    val residue = corpus.filter(col("doc_id") % 7 =!= 0)
    val batchA = corpus.filter(col("doc_id") % 14 === 0)
    val batchB = corpus.filter(col("doc_id") % 7 === 0 && col("doc_id") % 14 =!= 0)

    // — MINHASH band index
    val mt = "g_staged_tbl_mh"
    reset(mt, s"${mt}_applied_batches", s"${mt}_staged_append")
    fs.delete(p(s"$wh/${mt}_staged_commit"), true)
    operators.Dedup.writeMinhashIndex(residue, mt)
    def rows() = spark.table(mt).count()
    val base = rows()
    val nA = operators.Dedup.minhashAppendRows(batchA, mt).count()
    val nB = operators.Dedup.minhashAppendRows(batchB, mt).count()
    assert(nA > 0 && nB > 0)

    // CRASH WINDOW 1: staging table written, commit marker NOT yet
    // renamed in — replay must drop the orphan staging and re-stage
    graft.sources.Sinks.writeBucketed(
      operators.Dedup.minhashAppendRows(batchA, mt),
      s"${mt}_staged_append", Seq("band", "band_hash"), 8)
    var staged = 0
    val ran1 = sources.IndexMaintenance.applyBatchOnceStagedTable(
      spark, mt, "sid", 0, Seq("band", "band_hash"), 8) {
      staged += 1
      (operators.Dedup.minhashAppendRows(batchA, mt), Map.empty)
    }
    assert(ran1 && staged === 1 && rows() === base + nA,
      "uncommitted staging must re-stage exactly once")

    // CRASH WINDOW 2: staging + commit marker durable, nothing folded —
    // replay folds WITHOUT re-running the stage
    graft.sources.Sinks.writeBucketed(
      operators.Dedup.minhashAppendRows(batchB, mt),
      s"${mt}_staged_append", Seq("band", "band_hash"), 8)
    commitMarker(mt, "sid", 1, Map.empty)
    val ran2 = sources.IndexMaintenance.applyBatchOnceStagedTable(
      spark, mt, "sid", 1, Seq("band", "band_hash"), 8) {
      fail("stage re-ran despite a committed staging")
    }
    assert(ran2 && rows() === base + nA + nB)

    // fully-applied replays (mark present): pure no-ops, leftovers gone
    for (bid <- Seq(0L, 1L)) {
      val ran = sources.IndexMaintenance.applyBatchOnceStagedTable(
        spark, mt, "sid", bid, Seq("band", "band_hash"), 8) {
        fail("stage re-ran on a marked batch")
      }
      assert(!ran)
    }
    assert(rows() === base + nA + nB, "replay double-appended band rows")
    assert(!spark.catalog.tableExists(s"${mt}_staged_append"))
    assert(!fs.exists(p(s"$wh/${mt}_staged_commit")))

    // CRASH WINDOW 3: a MARKED predecessor's commit survived its
    // post-mark cleanup (crash between mark and cleanup) — the NEXT
    // batch must clean it up and proceed; an UNMARKED foreign commit
    // must fail loud instead of folding (single-writer violation)
    commitMarker(mt, "sid", 1, Map.empty) // batch 1 is marked above
    val ran3 = sources.IndexMaintenance.applyBatchOnceStagedTable(
      spark, mt, "sid", 2, Seq("band", "band_hash"), 8) {
      (operators.Dedup.minhashAppendRows(batchA.limit(0), mt), Map.empty)
    }
    assert(ran3 && !fs.exists(p(s"$wh/${mt}_staged_commit")))
    commitMarker(mt, "sid-foreign", 99, Map.empty) // never marked
    val err3 = intercept[IllegalArgumentException] {
      sources.IndexMaintenance.applyBatchOnceStagedTable(
        spark, mt, "sid", 3, Seq("band", "band_hash"), 8) {
        fail("must not stage over an unapplied foreign commit")
      }
    }
    assert(err3.getMessage.contains("unapplied staged commit"))
    fs.delete(p(s"$wh/${mt}_staged_commit"), true)
    // the stream-grown index equals a built-at-once rebuild row-for-row
    val rebuilt = "g_staged_tbl_mh_ref"
    reset(rebuilt)
    operators.Dedup.writeMinhashIndex(corpus, rebuilt)
    def keyset(t: String) = spark.table(t)
      .select("band", "band_hash", "doc_id").collect()
      .map(_.toSeq).toSet
    assert(keyset(mt) === keyset(rebuilt))

    // — BM25: the stats restamp is the silent-corruption family — the
    // committed snapshot is ABSOLUTE, so every replay re-applies the
    // same (N, Σdl) instead of re-adding the deltas
    val bt = "g_staged_tbl_bm25"
    reset(bt, s"${bt}_applied_batches", s"${bt}_staged_append")
    fs.delete(p(s"$wh/${bt}_staged_commit"), true)
    operators.Corpus.writeBm25Index(residue, bt)
    def stats(t: String): (Long, Long) = {
      val m = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      (m("graft.bm25.n").toLong, m("graft.bm25.s").toLong)
    }
    // the truth: a built-at-once index over residue ∪ batchA
    val btRef = "g_staged_tbl_bm25_ref"
    reset(btRef)
    operators.Corpus.writeBm25Index(residue.unionByName(batchA), btRef)
    val expected = stats(btRef)
    // crash window: staging + commit (with the absolute snapshot)
    // durable, then TWO replays across fold/props/mark — the stamp must
    // land at the absolute value, never accumulate
    val (bRows, bProps) = operators.Corpus.bm25AppendRowsAndProps(batchA, bt)
    graft.sources.Sinks.writeBucketed(bRows, s"${bt}_staged_append", Seq("word"), 8)
    commitMarker(bt, "sid", 0, bProps)
    for (_ <- 1 to 2) {
      sources.IndexMaintenance.applyBatchOnceStagedTable(
        spark, bt, "sid", 0, Seq("word"), 8) {
        fail("stage re-ran despite a committed staging")
      }
    }
    assert(stats(bt) === expected,
      s"BM25 stats skewed by replay: ${stats(bt)} vs $expected")
    assert(spark.table(bt).count() === spark.table(btRef).count(),
      "BM25 postings duplicated by replay")
    reset(mt, rebuilt, bt, btRef, s"${mt}_applied_batches",
      s"${bt}_applied_batches")
  }

  test("streaming curation loop: admit, append, merge components in one guarded stage; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val strTbl = "g_stream_cur_sem"
    val batTbl = "g_batch_cur_sem"
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    Seq(strTbl, batTbl,
        s"${strTbl}_applied_batches",
        operators.Dedup.staleClusterTable(strTbl),
        operators.Dedup.staleClusterTable(batTbl)).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(wh, t))
    }
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val residue = vecs.filter(col("vec_id") % 13 =!= 0)
    val batch = vecs.filter(col("vec_id") % 13 === 0)
    val cents = operators.Similarity.headCodebookSized(residue)
    val strDir = java.nio.file.Files.createTempDirectory("g_cur_str").toString
    val batDir = java.nio.file.Files.createTempDirectory("g_cur_bat").toString
    for ((dir, tbl) <- Seq((strDir, strTbl), (batDir, batTbl))) {
      operators.Similarity.writeIvfIndexWith(residue, dir, cents)
      operators.Similarity.writeSemanticClusterIndex(residue, cents, tbl)
    }
    // the batch composition — the parity reference: admit vs the
    // pre-batch corpus, append the novel set, merge its edges
    val admitted = batch.join(
      operators.Similarity.semDedupAgainstIndex(spark, batDir, batch)
        .filter(col("admitted")).select("vec_id"), "vec_id")
    operators.Similarity.appendToIvfIndex(spark, batDir, admitted)
    operators.Similarity.upsertSemanticClusterIndex(
      spark, batDir, batTbl, admitted)
    // CRASH-WINDOW simulation on the stream side: a first delivery that
    // completed the index append but died before the component merge
    // and before the batch-id mark. The redelivery below must (a) not
    // refuse the admitted set against its own appended copies, (b) not
    // double-append, (c) still run the merge exactly once.
    operators.Similarity.appendToIvfIndex(spark, strDir,
      batch.join(
        operators.Similarity.semDedupAgainstIndex(spark, strDir, batch,
          excludeBatch = true)
          .filter(col("admitted")).select("vec_id"), "vec_id"))
    val arriving = batch.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    def runStream(ck: String): Unit = {
      val in = MemoryStream[(Long, Array[Float])]
      in.addData(arriving: _*)
      val q = StreamingRollups.semanticCurationStream(
        in.toDF().toDF("vec_id", "embedding"), strDir, strTbl, ck,
        streamId = Some("spec-cur-stream"))
        .trigger(Trigger.Once()).start()
      assert(q.awaitTermination(60000), "semanticCurationStream did not finish")
    }
    runStream(java.nio.file.Files.createTempDirectory("g_cur_ck1").toString)
    def liveIdx(dir: String) = sources.IndexMaintenance
      .liveRowsAt(spark, s"$dir/assigned", dir, "vec_id")
      .select("vec_id", "list_id").collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    def liveCl(t: String) = operators.Dedup.liveClusterRows(spark, t)
      .select("doc_id", "cluster_id").collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // parity on BOTH artifacts: the index holds residue ∪ admitted,
    // the components hold the merged assignment
    assert(liveIdx(strDir) === liveIdx(batDir))
    assert(liveCl(strTbl) === liveCl(batTbl))
    // replay: one guard covers all three steps
    runStream(java.nio.file.Files.createTempDirectory("g_cur_ck2").toString)
    assert(liveIdx(strDir) === liveIdx(batDir),
      "redelivered curation micro-batch re-appended to the index")
    assert(liveCl(strTbl) === liveCl(batTbl),
      "redelivered curation micro-batch re-merged the components")
  }

  test("streaming BM25 append equals the batch append; redelivery never double-counts stats") {
    // BM25 is the family where batch-id idempotence matters MOST: the
    // (N, Σdl) restamp is a read-modify-write, so a replayed batch
    // without the guard would silently inflate the stats and skew
    // every later score even if duplicate postings were tolerable
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val strTbl = "g_stream_bm25_idx"
    val batTbl = "g_batch_bm25_idx"
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    Seq(strTbl, batTbl, s"${strTbl}_applied_batches").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(wh, t))
    }
    val docs = sources.Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 13 =!= 0)
    val arriving = docs.filter(col("doc_id") % 13 === 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    operators.Corpus.writeBm25Index(corpus, strTbl)
    operators.Corpus.writeBm25Index(corpus, batTbl)
    operators.Corpus.appendToBm25Index(
      docs.filter(col("doc_id") % 13 === 0), batTbl)
    def runStream(ck: String): Unit = {
      val in = MemoryStream[(Long, String)]
      in.addData(arriving: _*)
      val q = StreamingRollups.bm25AppendStream(
        in.toDF().toDF("doc_id", "text"), strTbl, ck,
        streamId = Some("spec-bm25-stream"))
        .trigger(Trigger.Once()).start()
      assert(q.awaitTermination(60000), "bm25AppendStream did not finish")
    }
    def stamp(t: String): (Long, Long) = {
      val p = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      (p("graft.bm25.n").toLong, p("graft.bm25.s").toLong)
    }
    def postings(t: String) = spark.table(t).collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    runStream(java.nio.file.Files.createTempDirectory("graft_bm25_ck1").toString)
    // parity: postings AND the additive stats stamp match the batch path
    assert(postings(strTbl) === postings(batTbl))
    assert(stamp(strTbl) === stamp(batTbl))
    // redelivery from a fresh checkpoint replays batch id 0 — the
    // guard must make BOTH the posting append and the restamp a no-op
    runStream(java.nio.file.Files.createTempDirectory("graft_bm25_ck2").toString)
    assert(postings(strTbl) === postings(batTbl),
      "redelivered micro-batch double-appended postings")
    assert(stamp(strTbl) === stamp(batTbl),
      "redelivered micro-batch double-counted the stats restamp")
    // the stream-grown index scores identically to the batch-grown one
    val a = operators.Corpus.bm25FromIndex(spark, strTbl).collect().map(_.toSeq)
    val b = operators.Corpus.bm25FromIndex(spark, batTbl).collect().map(_.toSeq)
    assert(a === b)
  }

  test("streaming IVF append equals the batch append; the path-based replay guard is a no-op") {
    // the one PATH-BASED index: idempotence marks live in an
    // applied_batches subdirectory (no catalog table can carry a
    // filesystem path), and must survive exactly like the table-based
    // guard — a replayed batch id neither re-appends nor reassigns
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = sys.props("java.io.tmpdir")
    val strDir = s"$tmp/g_spec_ivf_stream"
    val batDir = s"$tmp/g_spec_ivf_batch"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    Seq(strDir, batDir).foreach(p => rm(new java.io.File(p)))
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val corpus = vecs.filter(col("vec_id") % 13 =!= 0)
    val arrivingDf = vecs.filter(col("vec_id") % 13 === 0)
    val arriving = arrivingDf.select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)].collect().toSeq
    operators.Similarity.writeIvfIndex(corpus, strDir)
    operators.Similarity.writeIvfIndex(corpus, batDir)
    operators.Similarity.appendToIvfIndex(spark, batDir, arrivingDf)
    def runStream(ck: String): Unit = {
      val in = MemoryStream[(Long, Array[Float], Int)]
      in.addData(arriving: _*)
      val q = StreamingRollups.ivfAppendStream(
        in.toDF().toDF("vec_id", "embedding", "label"), strDir, ck,
        streamId = Some("spec-ivf-stream"))
        .trigger(Trigger.Once()).start()
      assert(q.awaitTermination(60000), "ivfAppendStream did not finish")
    }
    def assigned(dir: String) = spark.read.parquet(s"$dir/assigned")
      .select("vec_id", "list_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("list_id")))
      .sorted.toSeq
    runStream(java.nio.file.Files.createTempDirectory("graft_ivf_ck1").toString)
    // parity: same codebook (residue-trained both sides, deterministic)
    // means same assignment rows
    assert(assigned(strDir) === assigned(batDir))
    // redelivery from a fresh checkpoint replays batch id 0 — the
    // applied_batches mark must make it a no-op
    runStream(java.nio.file.Files.createTempDirectory("graft_ivf_ck2").toString)
    assert(assigned(strDir) === assigned(batDir),
      "redelivered micro-batch double-appended IVF rows")
    // and the exact-guarantee probe agrees across the two indexes
    val a = operators.Similarity.ivfTopKExactIndexed(spark, strDir, 7L, 10)
      .collect().map(_.toSeq).toSeq
    val b = operators.Similarity.ivfTopKExactIndexed(spark, batDir, 7L, 10)
      .collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("admission-gated streaming ingest refuses a later batch's paraphrase of an admitted vector") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = sys.props("java.io.tmpdir")
    val dir = s"$tmp/g_spec_sem_admit"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(dir))
    // 16 well-separated residue vectors (unit axes of a 16-dim space):
    // headCodebookSized picks all 16 as centroids, so every residue
    // vector owns its own list and admission decisions are readable
    def axis(i: Int, scale: Float = 1f): Array[Float] =
      Array.tabulate(16)(j => if (j == i) scale else 0f)
    val residue = (0 until 16).map(i => (i.toLong, axis(i)))
      .toDF("vec_id", "embedding")
    operators.Similarity.writeIvfIndexWith(residue, dir,
      operators.Similarity.headCodebookSized(residue))
    def runBatch(rows: Seq[(Long, Array[Float])], sid: String): Unit = {
      val in = MemoryStream[(Long, Array[Float])]
      in.addData(rows: _*)
      val q = StreamingRollups.semanticAdmissionStream(
        in.toDF().toDF("vec_id", "embedding"), dir,
        java.nio.file.Files.createTempDirectory(s"g_admit_$sid").toString,
        streamId = Some(sid))
        .trigger(Trigger.Once()).start()
      assert(q.awaitTermination(60000), "semanticAdmissionStream did not finish")
    }
    // batch 1: v100 is novel (a two-axis diagonal — cosine ~0.7 to any
    // residue axis, above no list's member at >= 0.35? it lands in ONE
    // list; its cosine to that axis is ~0.707 >= 0.35 → REFUSED? No:
    // make it orthogonal-ish by using a negative mix that stays below
    // tau against its own list head)
    val v100 = (100L, Array.tabulate(16)(j =>
      if (j == 0) 0.3f else if (j == 1) -0.95f else 0f))
    // cos(v100, axis0) = 0.3/|v| ≈ 0.30 < 0.35; cos(v100, axis1) < 0 —
    // novel everywhere it can land
    runBatch(Seq(v100), "b1")
    def liveIds = spark.read.parquet(s"$dir/assigned")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(liveIds.contains(100L), "novel vector must be admitted")
    // batch 2: v200 is a near-copy of the ADMITTED v100 (cos ≈ 1) —
    // refused because batch 1 already extended the index; v201 is
    // novel the same way v100 was
    val v200 = (200L, v100._2.map(_ * 1.01f))
    val v201 = (201L, Array.tabulate(16)(j =>
      if (j == 2) 0.3f else if (j == 3) -0.95f else 0f))
    runBatch(Seq(v200, v201), "b2")
    val ids = liveIds
    assert(!ids.contains(200L), "paraphrase of an admitted vector must be refused")
    assert(ids.contains(201L), "novel vector in the same batch must be admitted")
  }

  test("streaming CUSUM reproduces the batch changepoint fold for every closed day") {
    // the live changepoint alert: given the SAME offline calibration
    // the batch form self-derives, every finalized day's (S+, S-,
    // alarm) must take the identical BIGINT branches as the batch
    // recursion — bit-equal rows, including the alarm bit
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    val calib = operators.TimeSeries.cusumCalibration(ev)
    val st = StreamingRollups.cusumStream(input.toDS(), calib, "10 minutes")
    val q = st.writeStream.format("memory").queryName("parity_cusum")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Double]("target"), r.getAs[Long]("s_pos"),
          r.getAs[Long]("s_neg"), r.getAs[Boolean]("alarm")))).toMap
    val streamed = keyed(spark.table("parity_cusum"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = keyed(operators.TimeSeries.cusumChangepoint(ev)
      .withColumn("maxd", max(col("day")).over(
        wAll.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(col("day") < col("maxd"))
      .select("user_id", "day", "target", "s_pos", "s_neg", "alarm"))
    assert(streamed === batch, "stream-vs-batch CUSUM parity")
    assert(streamed.nonEmpty)
    // the corpus must actually trip the alarm somewhere, or the
    // threshold branch is untested
    assert(streamed.values.exists(_._4) && streamed.values.exists(!_._4),
      "expected both alarm states across the parity corpus")
  }

  test("streaming Holt reproduces the batch halving recursion for every closed day") {
    // two longs of smoothing state: every finalized day's
    // level/trend/one-step forecast must be bit-equal to the batch
    // alpha=beta=1/2 fold, including the seed day's zero trend
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    val st = StreamingRollups.holtStream(input.toDS(), "10 minutes")
    val q = st.writeStream.format("memory").queryName("parity_holt")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Double]("level"), r.getAs[Double]("trend"),
          r.getAs[Double]("forecast")))).toMap
    val streamed = keyed(spark.table("parity_holt"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = keyed(operators.TimeSeries.holtLinear(ev)
      .withColumn("maxd", max(col("day")).over(
        wAll.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(col("day") < col("maxd"))
      .select("user_id", "day", "level", "trend", "forecast"))
    assert(streamed === batch, "stream-vs-batch Holt parity")
    assert(streamed.nonEmpty)
    // the recursion must move off its seed somewhere (nonzero trend)
    assert(streamed.values.exists(_._2 != 0.0),
      "expected a nonzero trend across the parity corpus")
  }

  test("streaming Holt-Winters reproduces the batch seasonal recursion for every closed day") {
    // warm-up buffer (7 closes) → seed → three halvings + seasonal
    // ring per closed day: every finalized day from bar 8 on must be
    // bit-equal to the batch alpha=beta=gamma=1/2 fold
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingRollups.Tick
    val ev = sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val rows = ev.as[Tick].collect().toSeq
    val input = MemoryStream[Tick]
    input.addData(rows: _*)
    val st = StreamingRollups.holtWintersStream(input.toDS(), "10 minutes")
    val q = st.writeStream.format("memory").queryName("parity_hw")
      .outputMode("append").trigger(Trigger.Once()).start()
    try q.awaitTermination() finally q.stop()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("day")) ->
        ((r.getAs[Double]("level"), r.getAs[Double]("trend"),
          r.getAs[Double]("seasonal"), r.getAs[Double]("forecast")))).toMap
    val streamed = keyed(spark.table("parity_hw"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = keyed(operators.TimeSeries.holtWinters(ev)
      .withColumn("maxd", max(col("day")).over(
        wAll.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(col("day") < col("maxd"))
      .select("user_id", "day", "level", "trend", "seasonal", "forecast"))
    assert(streamed === batch, "stream-vs-batch Holt-Winters parity")
    assert(streamed.nonEmpty)
    // the seasonal leg must carry signal somewhere in the corpus
    assert(streamed.values.exists(_._3 != 0.0),
      "expected a nonzero seasonal index across the parity corpus")
  }
}
