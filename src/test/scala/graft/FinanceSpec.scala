package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Finance

/** Market-data family semantics (value-level parity is the DuckDB
  * gate; these pin the invariants the gate's hash can't articulate).
  */
class FinanceSpec extends SparkSpec {

  import java.sql.Timestamp
  private def t(s: String) = Timestamp.valueOf(s)

  test("ohlc_resample: open/close follow (ts, id) order incl. same-ts tie-break") {
    import spark.implicits._
    val df = Seq(
      // same day, out-of-order insertion; two ticks share a timestamp
      (3L, t("2024-01-02 10:00:00"), 5L, 30.0),
      (1L, t("2024-01-02 09:00:00"), 5L, 10.0),
      (2L, t("2024-01-02 09:00:00"), 5L, 99.0), // same ts as id=1 → id breaks tie
      (4L, t("2024-01-03 09:00:00"), 5L, 7.0)   // different day
    ).toDF("event_id", "ts", "user_id", "value")
    // the bars come in no particular order: sort on the driver
    val r = Finance.ohlcResample(df).collect().sortBy(_.getAs[String]("period_key"))
    assert(r.length === 2)
    val d2 = r(0)
    assert(d2.getAs[String]("period_key") === "2024-01-02")
    assert(d2.getAs[Double]("open") === 10.0)   // id=1 wins the ts tie
    assert(d2.getAs[Double]("close") === 30.0)
    assert(d2.getAs[Double]("high") === 99.0)
    assert(d2.getAs[Double]("low") === 10.0)
    assert(d2.getAs[Long]("n_obs") === 3L)
    assert(d2.getAs[Double]("sum_value") === 139.0)
  }

  // The packed-tick domain (Finance.packedTick): a tick outside it
  // would carry one lane into the next and give a wrong open or close,
  // so the bar aggregate fails with the named message instead. Checked
  // through ohlc_resample and through rsi_wilder's daily closes.
  private def failsWith(domain: String, ticks: Seq[(Long, Timestamp, Long, Double)]): Unit = {
    import spark.implicits._
    val df = ticks.toDF("event_id", "ts", "user_id", "value")
    Seq[() => Any](() => Finance.ohlcResample(df).collect(),
        () => Finance.rsiWilder(df, n = 2).collect()).foreach { run =>
      val e = intercept[Exception](run())
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage))
      assert(messages.exists(_.contains(domain)), e.toString)
    }
  }

  test("bar ticks: an event_id of 10^12 fails loud, not a wrong open") {
    failsWith(Finance.OrderKeyDomain, Seq(
      (1000000000000L, t("2024-01-02 09:00:00"), 5L, 9.0),
      (1L, t("2024-01-02 10:00:00"), 5L, 1.0)))
  }

  test("bar ticks: a $6,000,000.00 tick fails loud, not a wrapped open") {
    failsWith(Finance.CentsDomain, Seq(
      (1L, t("2024-01-02 09:00:00"), 5L, 6000000.0),
      (2L, t("2024-01-02 10:00:00"), 5L, 1.0)))
  }

  test("bar ticks: a tick before 1970 fails loud, not a misordered close") {
    failsWith(Finance.MicrosDomain, Seq(
      (1L, t("1969-06-01 09:00:00"), 5L, 9.0),
      (2L, t("1969-06-01 10:00:00"), 5L, 1.0)))
  }

  test("ohlc_resample plans a single hash aggregate — no window sort") {
    val plan = Finance.ohlcResample(Tables.events(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "OHLC must not use a window operator")
  }

  test("returns: consecutive ratio minus one, first row and zero-prev dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, t("2024-01-01 00:00:00"), 1L, 100.0),
      (2L, t("2024-01-01 00:01:00"), 1L, 110.0),
      (3L, t("2024-01-01 00:02:00"), 1L, 0.0),
      (4L, t("2024-01-01 00:03:00"), 1L, 50.0)   // prev is 0 → dropped
    ).toDF("event_id", "ts", "user_id", "value")
    val r = Finance.returns(df).collect()
    assert(r.map(_.getAs[Long]("event_id")).toSeq === Seq(2L, 3L))
    assert(r(0).getAs[Double]("ret") === 0.1)
    assert(r(1).getAs[Double]("ret") === -1.0)
  }

  test("sma_crossover: detects the sign change of short-vs-long SMA") {
    import spark.implicits._
    // short=2, long=3; series rises then crashes: 10,10,10,40,1,1
    val vals = Seq(10.0, 10.0, 10.0, 40.0, 1.0, 1.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, t(f"2024-01-01 00:0$i:00"), 1L, v)
    }.toDF("event_id", "ts", "user_id", "value")
    val r = Finance.smaCrossover(df, shortN = 2, longN = 3).collect()
    // rn>=3: frames full from event 2 (0-based). sma2 vs sma3:
    // e2: 10 vs 10 → equal (not above); e3: 25 vs 20 → golden flip;
    // e4: 20.5 vs 17 → above stays; e5: 1 vs 14 → death flip
    assert(r.map(x => (x.getAs[Long]("event_id"), x.getAs[String]("signal"))).toSeq
      === Seq((3L, "golden"), (5L, "death")))
  }

  test("max_drawdown: peak-relative trough, per series") {
    import spark.implicits._
    val df = Seq(
      (1L, t("2024-01-01 00:00:00"), 1L, 100.0),
      (2L, t("2024-01-01 00:01:00"), 1L, 150.0),
      (3L, t("2024-01-01 00:02:00"), 1L, 75.0),  // dd = 0.5 from peak 150
      (4L, t("2024-01-01 00:03:00"), 1L, 140.0), // recovery, dd shrinks
      (5L, t("2024-01-01 00:00:00"), 2L, 10.0)   // flat series → dd 0
    ).toDF("event_id", "ts", "user_id", "value")
    val r = Finance.maxDrawdown(df).collect()
    assert(r(0).getAs[Double]("max_drawdown") === 0.5)
    assert(r(1).getAs[Double]("max_drawdown") === 0.0)
  }

  test("vwap: exact 4dp half-up of notional/qty, half boundary included") {
    import spark.implicits._
    // N/Q = 24.69 / 8 = 3.086250 — the exact 4dp half case. The
    // integer identity gives HALF_UP 3.0863; a float round of the
    // double 3.08625 ≈ 3.08624999… would truncate to 3.0862.
    val df = Seq(
      (1L, t("1995-03-15 00:00:00"), 24.69, 8.0)
    ).toDF("l_suppkey", "l_shipdate", "l_extendedprice", "l_quantity")
    val r = Finance.vwap(df).collect()
    assert(r(0).getAs[Double]("vwap") === 3.0863)
    assert(r(0).getAs[Double]("notional") === 24.69)
  }

  test("weekly bars from daily partials equal direct weekly resample of ticks") {
    val ev = Tables.events(spark, sfDir)
    val fromDaily = Finance.ohlcWeeklyFromDaily(ev)
    // direct: the same candlestick aggregate at week grain over raw ticks
    val okey = concat(lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 12, "0"))
    val direct = ev
      .groupBy(col("user_id"),
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week_key"))
      .agg(round(min_by(col("value"), okey), 2).as("open"),
        round(max(col("value")), 2).as("high"),
        round(min(col("value")), 2).as("low"),
        round(max_by(col("value"), okey), 2).as("close"),
        count(lit(1)).as("n_obs"),
        sum(round(col("value"), 2).cast("decimal(18,2)")).cast("double").as("sum_value"))
    assert(fromDaily.except(direct).isEmpty && direct.except(fromDaily).isEmpty,
      "algebraic bar merge must be value-identical to direct resample")
  }

  test("twap: duration-weighted, last tick of the day carries no weight") {
    import spark.implicits._
    // 10.0 held 60 s, 20.0 held 30 s, 99.0 is the day's last tick
    val df = Seq(
      (1L, t("2024-01-02 09:00:00"), 1L, 10.0),
      (2L, t("2024-01-02 09:01:00"), 1L, 20.0),
      (3L, t("2024-01-02 09:01:30"), 1L, 99.0)
    ).toDF("event_id", "ts", "user_id", "value")
    val r = Finance.twapDaily(df).collect()
    assert(r.length === 1)
    // (10·60 + 20·30) / 90 = 13.3333
    assert(r(0).getAs[Double]("twap") === 13.3333)
    assert(r(0).getAs[Long]("n_intervals") === 2L)
  }

  test("series_beta: a series proportional to the market has beta = its share slope") {
    import spark.implicits._
    // two users, u1 = 2 × u2 each day; market m = x1 + x2 = 3·x2.
    // beta(u1) = cov(2s, 3s)/var(3s) = 2/3; beta(u2) = 1/3
    val rows = Seq(
      (1L, "2024-01-01", 1L, 20.0), (2L, "2024-01-02", 1L, 40.0), (3L, "2024-01-03", 1L, 60.0),
      (4L, "2024-01-01", 2L, 10.0), (5L, "2024-01-02", 2L, 20.0), (6L, "2024-01-03", 2L, 30.0)
    ).map { case (id, day, u, v) => (id, t(s"$day 12:00:00"), u, v) }
    val df = rows.toDF("event_id", "ts", "user_id", "value")
    val m = Finance.seriesBeta(df).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("beta")).toMap
    assert(m(1L) === 0.666667 && m(2L) === 0.333333)
  }

  test("lttb downsample: keeps endpoints, ≤ nBuckets points, picks the spike") {
    import spark.implicits._
    // 30 flat points with one big spike; the spike's bucket must pick it
    val rows = (1 to 30).map { i =>
      val v = if (i == 17) 500.0 else 10.0 + (i % 3) * 0.5
      (i.toLong, t(f"2024-01-01 ${8 + i / 60}%02d:${i % 60}%02d:00"), 1L, v)
    }
    val df = rows.toDF("event_id", "ts", "user_id", "value")
    val out = Finance.lttbDownsample(df, nBuckets = 6).collect()
    assert(out.length <= 6)
    val byBucket = out.map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("event_id")).toMap
    assert(byBucket(0) === 1L, "first endpoint kept")
    assert(byBucket(5) === 30L, "last endpoint kept")
    assert(out.map(_.getAs[Long]("event_id")).contains(17L),
      "the spike must survive downsampling")
    // downsampled sizes hold on the real table too: ≤ 10 per series
    val real = Finance.lttbDownsample(Tables.events(spark, sfDir))
    val maxPer = real.groupBy("user_id").count().agg(max("count")).head().getLong(0)
    assert(maxPer <= 10)
  }

  test("rsi_cutler: frame gains/losses, half-up bp, flat frame = 5000") {
    import spark.implicits._
    // one tick per day → closes 100, 110, 105, 105; deltas +10, −5, 0
    val rows = Seq(
      (1L, "2024-01-01", 100.0), (2L, "2024-01-02", 110.0),
      (3L, "2024-01-03", 105.0), (4L, "2024-01-04", 105.0),
      // flat series: RSI must be the 5000 bp convention, not a crash
      (5L, "2024-01-01", 7.0), (6L, "2024-01-02", 7.0), (7L, "2024-01-03", 7.0)
    ).map { case (id, day, v) =>
      (id, t(s"$day 12:00:00"), if (id <= 4) 1L else 2L, v) }
      .toDF("event_id", "ts", "user_id", "value")
    val r = Finance.rsiCutler(rows, n = 2).collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[String]("day")) -> x.getAs[Long]("rsi_bp"))
      .toMap
    // day3: g=1000c, l=500c → round(10⁴·1000/1500) = 6667 (HALF_UP)
    assert(r((1L, "2024-01-03")) === 6667L)
    // day4: g=0, l=500 → 0
    assert(r((1L, "2024-01-04")) === 0L)
    // flat: g+l = 0 → 5000 by convention
    assert(r((2L, "2024-01-03")) === 5000L)
    // day2 has only one delta — frame not full, excluded
    assert(!r.contains((1L, "2024-01-02")))
  }

  test("bollinger_breaches: squared integer test, no breach at zero variance") {
    import spark.implicits._
    val rows = Seq(
      // u1: 10, 10, 20 → dev=+2000c·… breaches upper at k=1
      (1L, "2024-01-01", 1L, 10.0), (2L, "2024-01-02", 1L, 10.0),
      (3L, "2024-01-03", 1L, 20.0),
      // u2: 10, 10, 4 → lower breach
      (4L, "2024-01-01", 2L, 10.0), (5L, "2024-01-02", 2L, 10.0),
      (6L, "2024-01-03", 2L, 4.0),
      // u3: constant → zero variance, dev=0: 0 > 0 is false, no breach
      (7L, "2024-01-01", 3L, 5.0), (8L, "2024-01-02", 3L, 5.0),
      (9L, "2024-01-03", 3L, 5.0)
    ).map { case (id, day, u, v) => (id, t(s"$day 12:00:00"), u, v) }
      .toDF("event_id", "ts", "user_id", "value")
    val r = Finance.bollingerBreaches(rows, n = 3, k = 1).collect()
    val byUser = r.map(x => x.getAs[Long]("user_id") ->
      (x.getAs[String]("band"), x.getAs[Double]("band_mean"))).toMap
    assert(r.length === 2)
    assert(byUser(1L) === (("upper", 13.3333))) // mean 4000c/3 → 13.3333
    assert(byUser(2L)._1 === "lower")
    assert(!byUser.contains(3L))
  }

  test("obv_daily: signed tick-count accumulation, flat day contributes zero") {
    import spark.implicits._
    // closes 10, 12, 11, 11 with 2, 3, 4, 5 ticks per day
    val rows = (for {
      (day, close, n) <- Seq(("2024-01-01", 10.0), ("2024-01-02", 12.0),
        ("2024-01-03", 11.0), ("2024-01-04", 11.0)).zip(Seq(2, 3, 4, 5))
        .map { case ((d, c), n) => (d, c, n) }
      i <- 1 to n
    } yield {
      val id = day.takeRight(2).toLong * 100 + i
      // last tick of the day carries the close; earlier ticks are noise
      val v = if (i == n) close else close + 1.0
      (id, t(s"$day 0$i:00:00"), 1L, v)
    }).toDF("event_id", "ts", "user_id", "value")
    val r = Finance.obvDaily(rows).collect()
      .map(x => x.getAs[String]("day") -> x.getAs[Long]("obv")).toMap
    assert(r("2024-01-01") === 0L)   // first day: no delta
    assert(r("2024-01-02") === 3L)   // up day adds its 3 ticks
    assert(r("2024-01-03") === -1L)  // down day subtracts 4
    assert(r("2024-01-04") === -1L)  // flat day contributes zero
  }

  test("top_movers: bp change via the positive-operand identity, k-bounded") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01", 100.0), (2L, "2024-01-02", 110.0), // +1000 bp
      (3L, "2024-01-03", 99.0)                              // −1000 bp
    ).map { case (id, day, v) => (id, t(s"$day 12:00:00"), 1L, v) }
      .toDF("event_id", "ts", "user_id", "value")
    val r = Finance.topMovers(rows, k = 1).collect()
    assert(r.length === 1)
    // equal |bp|: the (user, day) tie-break keeps the earlier day
    assert(r(0).getAs[String]("day") === "2024-01-02")
    assert(r(0).getAs[Long]("change_bp") === 1000L)
    assert(r(0).getAs[Double]("prev_close") === 100.0)
  }

  test("series_corr_topn: top-N turnover gate, anti-correlated pair = −1") {
    import spark.implicits._
    val rows = Seq(
      // u1 and u2 perfectly anti-correlated; u3 is tiny and must be
      // excluded by the top-2 turnover gate
      (1L, "2024-01-01", 1L, 10.0), (2L, "2024-01-02", 1L, 20.0), (3L, "2024-01-03", 1L, 30.0),
      (4L, "2024-01-01", 2L, 30.0), (5L, "2024-01-02", 2L, 20.0), (6L, "2024-01-03", 2L, 10.0),
      (7L, "2024-01-01", 3L, 0.5)
    ).map { case (id, day, u, v) => (id, t(s"$day 12:00:00"), u, v) }
      .toDF("event_id", "ts", "user_id", "value")
    val r = Finance.seriesCorrTopN(rows, topN = 2).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("u1") === 1L && r(0).getAs[Long]("u2") === 2L)
    assert(r(0).getAs[Double]("corr") === -1.0)
    assert(r(0).getAs[Long]("n_days") === 3L)
  }

  test("atr: gap days count via prev-close true range, full frames only") {
    import spark.implicits._
    val rows = Seq(
      // d1: 10/12/11 → h=12 l=10 c=11; d2 gaps up to 15; d3 gaps to 9
      (1L, "2024-01-01 09:00:00", 10.0), (2L, "2024-01-01 10:00:00", 12.0),
      (3L, "2024-01-01 11:00:00", 11.0),
      (4L, "2024-01-02 09:00:00", 15.0),
      (5L, "2024-01-03 09:00:00", 9.0)
    ).map { case (id, s, v) => (id, t(s), 1L, v) }
      .toDF("event_id", "ts", "user_id", "value")
    val r = Finance.atr(rows, n = 2).collect()
    // d2's TR=|15−11|=4, d3's TR=|9−15|=6 → ATR(d3) = 5.0; d2 excluded
    assert(r.length === 1)
    assert(r(0).getAs[String]("day") === "2024-01-03")
    assert(r(0).getAs[Double]("atr") === 5.0)
  }

  test("stochastic %K: channel position in bp, flat channel = 5000") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01 09:00:00", 1L, 10.0), (2L, "2024-01-01 10:00:00", 1L, 12.0),
      (3L, "2024-01-01 11:00:00", 1L, 11.0),
      (4L, "2024-01-02 09:00:00", 1L, 15.0),  // close at channel top
      (5L, "2024-01-03 09:00:00", 1L, 9.0),   // close at channel bottom
      // flat series: hh = ll → 5000 by convention
      (6L, "2024-01-01 09:00:00", 2L, 7.0), (7L, "2024-01-02 09:00:00", 2L, 7.0)
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Finance.stochasticK(rows, n = 2).collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[String]("day")) -> x.getAs[Long]("k_bp"))
      .toMap
    assert(r((1L, "2024-01-02")) === 10000L) // (15−10)/(15−10)
    assert(r((1L, "2024-01-03")) === 0L)     // (9−9)/(15−9)
    assert(r((2L, "2024-01-02")) === 5000L)  // flat channel
  }

  test("drawdown duration: longest consecutive underwater run, strict below peak") {
    import spark.implicits._
    // closes 10, 9, 8, 11, 10 → underwater runs {d2,d3} and {d5}: max 2
    val rows = Seq(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-02", 9.0), (3L, "2024-01-03", 8.0),
      (4L, "2024-01-04", 11.0), (5L, "2024-01-05", 10.0),
      // monotonic series never goes underwater → absent from output
      (6L, "2024-01-01", 5.0), (7L, "2024-01-02", 6.0)
    ).map { case (id, day, v) =>
      (id, t(s"$day 12:00:00"), if (id <= 5) 1L else 2L, v) }
      .toDF("event_id", "ts", "user_id", "value")
    val r = Finance.drawdownDuration(rows).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("user_id") === 1L)
    assert(r(0).getAs[Long]("max_underwater_days") === 2L)
    assert(r(0).getAs[Long]("n_days") === 5L)
  }

  test("rsi over the persisted bar table matches the direct form with zero hash exchanges") {
    val ev = Tables.events(spark, sfDir)
    val table = "t_bars_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Finance.writeBarsTable(ev, table)
    try {
      val indexed = Finance.rsiFromBars(spark.table(table))
      // the series-keyed windows must ride the bucket layout
      val plan = indexed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bar-table RSI must plan zero hash exchanges:\n$plan")
      // value parity with the tick-scan form (the shared-oracle claim)
      val direct = Finance.rsiCutler(ev)
      assert(indexed.except(direct).isEmpty && direct.except(indexed).isEmpty,
        "persisted-bars RSI must be value-identical to the direct form")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("recursive indicators over the persisted bar table: parity + zero hash exchanges") {
    val ev = Tables.events(spark, sfDir)
    val table = "t_bars_rec_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Finance.writeBarsTable(ev, table)
    try {
      val closes = spark.table(table).select("user_id", "day", "c")
      val hlc = spark.table(table).select("user_id", "day", "h", "l", "c")
      val cases = Seq(
        ("macd", Finance.macdFromBars(closes), Finance.macd(ev)),
        ("rsi_wilder", Finance.rsiWilderFromBars(closes), Finance.rsiWilder(ev)),
        ("keltner", Finance.keltnerFromBars(spark.table(table)), Finance.keltner(ev)),
        ("supertrend", Finance.supertrendFromBars(hlc), Finance.supertrend(ev)),
        ("adx", Finance.adxFromBars(hlc), Finance.adx(ev)))
      cases.foreach { case (name, indexed, direct) =>
        val plan = indexed.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bar-table $name must plan zero hash exchanges:\n$plan")
        assert(indexed.except(direct).isEmpty && direct.except(indexed).isEmpty,
          s"persisted-bars $name must be value-identical to the direct form")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("heikin-ashi over the persisted OHLC bar table: parity + zero hash exchanges") {
    val ev = Tables.events(spark, sfDir)
    val table = "t_ohlc_bars_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Finance.writeOhlcBarsTable(ev, table)
    try {
      val indexed = Finance.heikinAshiFromBars(spark.table(table))
      val plan = indexed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"OHLC-bar-table heikin-ashi must plan zero hash exchanges:\n$plan")
      val direct = Finance.heikinAshi(ev)
      assert(indexed.except(direct).isEmpty && direct.except(indexed).isEmpty,
        "persisted-bars heikin-ashi must be value-identical to the direct form")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("donchian: channel edges, half-up midline, breakout vs yesterday's channel") {
    import spark.implicits._
    // one tick/day: 10, 20, 30, 5 — n=2 channels
    val df = Seq(10.0, 20.0, 30.0, 5.0).zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, t(s"2024-01-0${i + 1} 10:00:00"), 1L, v)
    }.toDF("event_id", "ts", "user_id", "value")
    val r = Finance.donchianChannels(df, n = 2).collect()
    // day 1 has a partial frame → dropped
    assert(r.map(_.getAs[String]("day")).toSeq ===
      Seq("2024-01-02", "2024-01-03", "2024-01-04"))
    val d2 = r(0)
    assert(d2.getAs[Double]("upper_band") === 20.0)
    assert(d2.getAs[Double]("lower_band") === 10.0)
    assert(d2.getAs[Double]("mid") === 15.0)
    // close 20 > yesterday's 1-bar channel top 10 → breakout_up
    assert(d2.getAs[String]("signal") === "breakout_up")
    assert(r(1).getAs[String]("signal") === "breakout_up")   // 30 > 20
    assert(r(2).getAs[String]("signal") === "breakout_down") // 5 < 20 (prev lower)
  }

  test("aroon: days-since-extreme in bp, ties break to the most recent bar") {
    import spark.implicits._
    val df = Seq(10.0, 30.0, 20.0, 25.0).zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, t(s"2024-01-0${i + 1} 10:00:00"), 1L, v)
    }.toDF("event_id", "ts", "user_id", "value")
    val r = Finance.aroon(df, n = 3).collect()
      .map(x => x.getAs[String]("day") ->
        ((x.getAs[Long]("aroon_up_bp"), x.getAs[Long]("aroon_down_bp")))).toMap
    // day 3: high printed 1 bar ago (d2=30) → 100·2/3; low 2 bars ago (d1) → 100·1/3
    assert(r("2024-01-03") === ((6667L, 3333L)))
    // day 4: high 2 bars ago, low 1 bar ago (d3=20 is the 3-day low)
    assert(r("2024-01-04") === ((3333L, 6667L)))
    // tie: two equal highs → the most recent one counts (days since = 0)
    val tied = Seq(10.0, 10.0).zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, t(s"2024-01-0${i + 1} 10:00:00"), 1L, v)
    }.toDF("event_id", "ts", "user_id", "value")
    val tr = Finance.aroon(tied, n = 2).collect()
    assert(tr.length === 1 && tr(0).getAs[Long]("aroon_up_bp") === 10000L)
  }

  test("ichimoku: half-up midpoints, kijun-row displaced senkou/chikou, nullable edges") {
    import spark.implicits._
    val df = Seq(10.0, 20.0, 30.0, 40.0, 50.0).zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, t(s"2024-01-0${i + 1} 10:00:00"), 1L, v)
    }.toDF("event_id", "ts", "user_id", "value")
    val r = Finance.ichimokuLines(df, tenkan = 1, kijun = 2, senkou = 3).collect()
      .map(x => x.getAs[String]("day") -> x).toMap
    assert(r.keySet === Set("2024-01-02", "2024-01-03", "2024-01-04", "2024-01-05"))
    val d2 = r("2024-01-02")
    assert(d2.getAs[Double]("tenkan") === 20.0)
    assert(d2.getAs[Double]("kijun") === 15.0)          // (2000+1000+1) >> 1
    assert(d2.isNullAt(d2.fieldIndex("senkou_a")))      // no bar 2 rows back yet
    assert(d2.getAs[Double]("chikou") === 40.0)         // close 2 rows ahead
    val d5 = r("2024-01-05")
    assert(d5.getAs[Double]("senkou_a") === 27.5)       // d3's (tk+kj+1) div 2
    assert(d5.getAs[Double]("senkou_b") === 20.0)       // d3's 3-bar midpoint
    assert(d5.isNullAt(d5.fieldIndex("chikou")))        // series ends
  }

  test("macd: integer micro-cent EMA recursion matches an independent fold") {
    import spark.implicits._
    val vals = Seq(10.0, 20.0, 5.0, 30.0, 25.0)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, t(s"2024-01-0${i + 1} 10:00:00"), 1L, v)
    }.toDF("event_id", "ts", "user_id", "value")
    val r = Finance.macd(df, fast = 2, slow = 3, signal = 2).collect()
    assert(r.length === vals.length)
    // day 1: both EMAs seed from the first close → macd = signal = hist = 0
    assert(r(0).getAs[Double]("macd") === 0.0 &&
      r(0).getAs[Double]("signal") === 0.0 &&
      r(0).getAs[Double]("histogram") === 0.0)
    // independent reference fold: the signed HALF_UP identity in
    // plain Scala over micro-cents
    def hu(num: Long, den: Long): Long =
      if (num >= 0) (2 * num + den) / (2 * den)
      else -((2 * -num + den) / (2 * den))
    def ema(xs: Seq[Long], n: Int): Seq[Long] =
      xs.tail.scanLeft(xs.head)((p, x) => hu(2 * x + (n - 1) * p, n + 1))
    val micro = vals.map(v => (v * 100).toLong * 1000000L)
    val macdRef = ema(micro, 2).zip(ema(micro, 3)).map { case (a, b) => a - b }
    val sigRef = ema(macdRef, 2)
    r.zipWithIndex.foreach { case (row, i) =>
      assert(row.getAs[Double]("macd") === macdRef(i).toDouble / 1e8, s"macd day ${i + 1}")
      assert(row.getAs[Double]("signal") === sigRef(i).toDouble / 1e8, s"signal day ${i + 1}")
      assert(row.getAs[Double]("histogram") === (macdRef(i) - sigRef(i)).toDouble / 1e8)
    }
  }

  test("keltner: integer EMA midline and Wilder ATR bands, hand-worked") {
    import spark.implicits._
    // one tick/day: 10, 20, 30 → typ = close; emaN = atrN = 2, mult = 2
    val df = Seq(10.0, 20.0, 30.0).zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, t(s"2024-01-0${i + 1} 10:00:00"), 1L, v)
    }.toDF("event_id", "ts", "user_id", "value")
    val r = Finance.keltner(df, emaN = 2, atrN = 2, mult = 2).collect()
      .map(x => x.getAs[String]("day") -> x).toMap
    assert(r.keySet === Set("2024-01-02", "2024-01-03")) // ATR defined from day 2
    // mid fold (micro-cents): 1e9, HU((2·2e9+1e9)/3)=1666666667,
    //   HU((2·3e9+1666666667)/3)=2555555556
    // tr: day1 h−l=0, then |Δclose|=1000 cents → seed HU(1e9/2)=5e8,
    //   step HU((5e8+1e9)/2)=75e7
    val d2 = r("2024-01-02")
    assert(d2.getAs[Double]("mid") === 16.66666667)
    assert(d2.getAs[Double]("atr") === 5.0)
    assert(d2.getAs[Double]("upper_band") === 26.66666667)
    assert(d2.getAs[Double]("lower_band") === 6.66666667)
    val d3 = r("2024-01-03")
    assert(d3.getAs[Double]("mid") === 25.55555556)
    assert(d3.getAs[Double]("atr") === 7.5)
    assert(d3.getAs[Double]("upper_band") === 40.55555556)
    assert(d3.getAs[Double]("lower_band") === 10.55555556)
  }

  test("rsi_wilder: SMA seed then the recursive smoothing, hand-worked") {
    import spark.implicits._
    // closes 10, 20, 5, 30 → cent deltas 1000, −1500, 2500; n = 2
    val df = Seq(10.0, 20.0, 5.0, 30.0).zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, t(s"2024-01-0${i + 1} 10:00:00"), 1L, v)
    }.toDF("event_id", "ts", "user_id", "value")
    val r = Finance.rsiWilder(df, n = 2).collect()
      .map(x => x.getAs[String]("day") -> x.getAs[Long]("rsi_bp")).toMap
    // day 3 (seed): avg_g = (1000+0)/2 = 500, avg_l = (0+1500)/2 = 750
    //   → 10⁴·500/1250 = 4000 bp
    assert(r === Map(
      "2024-01-03" -> 4000L,
      // day 4: avg_g = (500·1+2500)/2 = 1500, avg_l = (750+0)/2 = 375
      //   → 10⁴·1500/1875 = 8000 bp
      "2024-01-04" -> 8000L))
    // a too-short series (fewer than n deltas) emits nothing
    val short = Seq(10.0, 20.0).zipWithIndex.map { case (v, i) =>
      (i.toLong + 1, t(s"2024-01-0${i + 1} 10:00:00"), 1L, v)
    }.toDF("event_id", "ts", "user_id", "value")
    assert(Finance.rsiWilder(short, n = 2).count() === 0L)
  }

  test("vwap groups by supplier-month with decimal-exact sums") {
    val r = Finance.vwap(Tables.lineitem(spark, sfDir))
    assert(r.columns.toSeq === Seq("l_suppkey", "period_key", "vwap", "notional"))
    val row = r.head()
    assert(row.getAs[String]("period_key").matches("\\d{4}-\\d{2}"))
    assert(row.getAs[Double]("vwap") > 0)
  }

  test("williams %R mirrors stochastic %K: wr_bp = 10^4 - k_bp, flat = 5000") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01 09:00:00", 1L, 10.0), (2L, "2024-01-01 10:00:00", 1L, 12.0),
      (3L, "2024-01-02 09:00:00", 1L, 15.0),
      (4L, "2024-01-03 09:00:00", 1L, 9.0),
      (5L, "2024-01-01 09:00:00", 2L, 7.0), (6L, "2024-01-02 09:00:00", 2L, 7.0)
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Finance.williamsR(rows, n = 2).collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[String]("day")) -> x.getAs[Long]("wr_bp"))
      .toMap
    assert(r((1L, "2024-01-02")) === 0L)     // close at channel top
    assert(r((1L, "2024-01-03")) === 10000L) // close at channel bottom
    assert(r((2L, "2024-01-02")) === 5000L)  // flat channel convention
  }

  test("cci: all-integer (n·T−S)·n·1000/(15·D) identity, zero-deviation frame = 0") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01 12:00:00", 1L, 10.0),
      (2L, "2024-01-02 12:00:00", 1L, 20.0),
      (3L, "2024-01-03 12:00:00", 1L, 20.0)
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Finance.cci(rows, n = 2).collect()
      .map(x => x.getAs[String]("day") -> x.getAs[Long]("cci_c")).toMap
    // day2: T = {3000, 6000}, S = 9000, D = 6000 →
    // cci = 3000·2·1000/(15·6000) = 66.66̄ → 6667 hundredths HALF_UP
    assert(r("2024-01-02") === 6667L)
    // day3: both frame T equal → D = 0 → 0 by convention
    assert(r("2024-01-03") === 0L)
  }

  test("roc/momentum: exact cent delta, signed HALF_UP bp vs the lagged close") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01 12:00:00", 1L, 10.0),
      (2L, "2024-01-02 12:00:00", 1L, 12.5),
      (3L, "2024-01-03 12:00:00", 1L, 10.0)
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Finance.rocMomentum(rows, n = 1).collect()
      .map(x => x.getAs[String]("day") ->
        (x.getAs[Double]("momentum"), x.getAs[Long]("roc_bp"))).toMap
    assert(r("2024-01-02") === ((2.5, 2500L)))
    assert(r("2024-01-03") === ((-2.5, -2000L))) // −250/1250 = −20%
  }

  test("mfi: tick-weighted directional flow in bp, equal days drop, flowless = 5000") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01 12:00:00", 1L, 10.0),
      (2L, "2024-01-02 12:00:00", 1L, 20.0), // up: pmf = 6000
      (3L, "2024-01-03 12:00:00", 1L, 15.0), // down: nmf = 4500
      (4L, "2024-01-04 12:00:00", 1L, 15.0), // equal: drops out
      (5L, "2024-01-01 12:00:00", 2L, 7.0),
      (6L, "2024-01-02 12:00:00", 2L, 7.0),
      (7L, "2024-01-03 12:00:00", 2L, 7.0)
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Finance.mfi(rows, n = 2).collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[String]("day")) -> x.getAs[Long]("mfi_bp"))
      .toMap
    // 10⁴·6000/10500 = 5714.28… → 5714
    assert(r((1L, "2024-01-03")) === 5714L)
    assert(r((1L, "2024-01-04")) === 0L)    // only downward flow in frame
    assert(r((2L, "2024-01-03")) === 5000L) // no directional flow
  }

  test("heikin ashi: quarter-cent recursion, hand-worked two-bar series") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01 09:00:00", 1L, 10.0),
      (2L, "2024-01-01 10:00:00", 1L, 12.0),
      (3L, "2024-01-01 11:00:00", 1L, 11.0), // day1: o=1000 h=1200 l=1000 c=1100
      (4L, "2024-01-02 09:00:00", 1L, 11.5)  // day2: all legs 1150
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Finance.heikinAshi(rows).collect()
      .map(x => x.getAs[String]("day") ->
        (x.getAs[Double]("ha_open"), x.getAs[Double]("ha_high"),
          x.getAs[Double]("ha_low"), x.getAs[Double]("ha_close"))).toMap
    // day1: ha_open = (o+c)/2 = 10.50, ha_close = (o+h+l+c)/4 = 10.75
    assert(r("2024-01-01") === ((10.5, 12.0, 10.0, 10.75)))
    // day2: ha_open = (4200 + 4300 + 1) div 2 = 4250 quarter-cents
    assert(r("2024-01-02") === ((10.625, 11.5, 10.625, 11.5)))
  }

  test("adx: monotonic rise pins +DM = TR, so DI+ = DX = ADX = 10^4 bp") {
    import spark.implicits._
    val rows = (1 to 5).map { i =>
      (i.toLong, s"2024-01-0$i 12:00:00", 1L, 9.0 + i)
    }.toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Finance.adx(rows, n = 2).collect()
    // ADX defined from day 2n = 4 → exactly days 4 and 5
    assert(r.map(_.getAs[String]("day")).toSeq === Seq("2024-01-04", "2024-01-05"))
    r.foreach { row =>
      assert(row.getAs[Long]("di_plus_bp") === 10000L)
      assert(row.getAs[Long]("di_minus_bp") === 0L)
      assert(row.getAs[Long]("adx_bp") === 10000L)
    }
  }

  test("supertrend: bands ratchet, trend flips on a cross, hand-worked") {
    import spark.implicits._
    // n = 1, mult = 1, single-tick days (h = l = c, so ATR_t = TR_t):
    // day1 c=10: flat bands at 10, trend seeds +1, st = lower = 10
    // day2 c=12: basic bu = 14 but fu only ratchets DOWN (pc = fu, not
    //   above) → fu stays 10; c > fu keeps trend up, st = fl = 10
    // day3 c=9: pc = 12 broke above fu=10 → fu RESETS to 12; fl holds
    //   10; c=9 < fl → trend flips DOWN, st = fu = 12
    val rows = Seq(
      (1L, "2024-01-01 12:00:00", 1L, 10.0),
      (2L, "2024-01-02 12:00:00", 1L, 12.0),
      (3L, "2024-01-03 12:00:00", 1L, 9.0)
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Finance.supertrend(rows, n = 1, mult = 1).collect()
      .map(x => x.getAs[String]("day") ->
        (x.getAs[Double]("upper_band"), x.getAs[Double]("lower_band"),
          x.getAs[Long]("trend"), x.getAs[Double]("supertrend"))).toMap
    assert(r("2024-01-01") === ((10.0, 10.0, 1L, 10.0)))
    assert(r("2024-01-02") === ((10.0, 10.0, 1L, 10.0)))
    assert(r("2024-01-03") === ((12.0, 10.0, -1L, 12.0)))
  }

  test("pivot points: HALF_UP /3 pivot, exact ladder, zone by integer compare") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-01 09:00:00", 1L, 10.0),
      (2L, "2024-01-01 10:00:00", 1L, 12.0), // day1: h=1200 l=1000 c=1200
      (3L, "2024-01-02 09:00:00", 1L, 13.0)
    ).toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Finance.pivotPoints(rows).collect()
    assert(r.length === 1)
    val row = r.head
    // pivot = HALF_UP(3400/3) = 1133 cents
    assert(row.getAs[Double]("pivot") === 11.33)
    assert(row.getAs[Double]("r1") === 12.66)
    assert(row.getAs[Double]("s1") === 10.66)
    assert(row.getAs[Double]("r2") === 13.33)
    assert(row.getAs[Double]("s2") === 9.33)
    assert(row.getAs[String]("zone") === "above_r1") // 1300 > 1266
  }
}
