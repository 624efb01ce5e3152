package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Market-data analytics the reference's OHLCV pipeline implies but
  * never computes (reference: airflow/dags/yfinance/
  * TransForm_Load_Yfinance.py:210-349 aggregates avg/sum/max/min/std
  * of already-daily Open/High/Low/Close columns — it has no tick →
  * bar resample, no returns, no signals, because YFinance hands it
  * pre-built daily bars). A user switching a stock backend onto this
  * engine needs the upstream half too: tick-level events → candlestick
  * bars, per-series returns, moving-average signals, drawdown, VWAP.
  * All of it is one-shuffle grouped/window work over (series, time) —
  * the series key is a grouping column, so 10 or 10 million series
  * cost the same three shuffles (the reference loops stocks in driver
  * Python, its scale ceiling; see Rollups for the same argument).
  *
  * Determinism conventions (the DuckDB oracle compares float values
  * EXACTLY, see scripts/verify_local.py):
  *   - first/last-in-time are `min_by`/`max_by` over a composite
  *     lexicographic order key (zero-padded epoch-micros ‖ event id)
  *     because DuckDB's min_by cannot order by a struct — no windows,
  *     no fan-out, plain map-side-combinable aggregates;
  *   - grouped sums go through decimal, never double (double addition
  *     is order-dependent across partitions);
  *   - comparisons between two running averages are cross-multiplied
  *     decimal integer comparisons (s_a·c_b > s_b·c_a), never a
  *     divide-then-compare that an ulp can flip;
  *   - each emitted float is a SINGLE double division of deterministic
  *     operands, then `round(_, n)`.
  */
object Finance {

  /** Composite time-order key: zero-padded epoch micros ‖ id. String
    * compare == (ts, id) compare; both engines build it byte-identically.
    */
  // First/last-in-time cents via a PACKED-DECIMAL arg-extremum:
  // pk = (micros·10¹² + event_id)·10⁹ + (cents + 5·10⁸), one
  // decimal(38,0) per tick, and the bar's close is
  // max(pk) mod 10⁹ − 5·10⁸. Same winner as the old
  // `max_by(value, <zero-padded (micros, id) string>)` — the integer
  // lanes encode exactly that lexicographic order, the id lane is
  // unique so the cents lane never decides, and cents ride along so
  // ONE declarative max recovers the winning value. Why not min_by/
  // max_by: their ordering key (string or struct) is an
  // immutable-buffer type, which disqualifies HashAggregate — the
  // whole tick→bar aggregate fell into SortAggregate (sorting every
  // tick by (series, day), twice — measured ~45% of the aggregate,
  // OPTIMIZATION_r17.md §2); a typed-imperative argmax fixes the sort
  // but drops whole-stage codegen for the h/l/count legs (same §:
  // 0.56 s vs 0.46 s packed vs 0.58 s sort at sf0.1). A decimal(38,0)
  // buffer is UnsafeRow-mutable, so max(pk) keeps the aggregate in
  // codegen'd HashAggregate with map-side partials — the only shape that
  // survives 100 TB of ticks. Domain (same class the padded string
  // had via its lpad widths, now explicit): 0 ≤ micros < 10¹⁶
  // (ts before year ~2286, and < ~10¹⁵·6 for the 38-digit cap ⇒
  // year < 2255), 0 ≤ event_id < 10¹², |cents| < 5·10⁸ ($5M/tick),
  // value non-null (the Tick contract; a null value would drop the
  // row from the arg-extremum where max_by carried it as a null
  // close — unrepresentable in the corpus and the streaming schema).
  // The ORACLES keep their padded-string arg_max form (DuckDB's
  // min_by cannot order a struct); the output is identical.
  private def packedTick(ts: Column, id: Column, cents: Column): Column =
    (unix_micros(ts).cast("decimal(20,0)") * lit(1000000000000L) +
      id.cast("long")) * lit(1000000000L) +
      (cents.cast("long") + lit(500000000L))
  private def unpackCents(pk: Column): Column =
    (pk % lit(1000000000L)).cast("long") - lit(500000000L)
  /** Cents of round(value, 2) — the exact integer basis every bar leg
    * shares. */
  private def centsOf(value: Column): Column =
    (round(value, 2).cast("decimal(18,2)") * 100).cast("long")
  private def openCents(value: Column, ts: Column, id: Column): Column =
    unpackCents(min(packedTick(ts, id, centsOf(value))))
  private def closeCents(value: Column, ts: Column, id: Column): Column =
    unpackCents(max(packedTick(ts, id, centsOf(value))))

  /** Tick → daily candlestick resample: per (series, day) the first /
    * max / min / last tick value plus tick count and exact decimal
    * turnover. The open/close use `min_by`/`max_by` over the composite
    * order key — ONE hash aggregate with map-side partials, no window,
    * no per-partition sort; at 100 TB of ticks this is the only shape
    * that survives (a row_number window would sort every tick).
    * Reference analog: the daily grain its YFinance feed arrives at
    * (TransForm_Load_Yfinance.py:210-226 treats day bars as given).
    */
  def ohlcResample(events: DataFrame): DataFrame = {
    events
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("period_key"))
      .agg(
        // cents/100.0 ≡ round(<winning value>, 2): both are the
        // nearest double to the same 2dp decimal (IEEE division of an
        // exact long by 100.0 is correctly rounded)
        (openCents(col("value"), col("ts"), col("event_id"))
          .cast("double") / 100.0).as("open"),
        round(max(col("value")), 2).as("high"),
        round(min(col("value")), 2).as("low"),
        (closeCents(col("value"), col("ts"), col("event_id"))
          .cast("double") / 100.0).as("close"),
        count(lit(1)).as("n_obs"),
        sum(round(col("value"), 2).cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("user_id", "period_key")
  }

  /** Weekly bars derived ALGEBRAICALLY from daily bars — the
    * incremental-maintenance property candlesticks share with sums:
    * open/close carry their order keys, so a coarser bar's open is the
    * open of the first finer bar (min_by on the bar's own key), high =
    * max of highs, low = min of lows, counts/turnover add. A recurring
    * weekly rollup therefore reads |days| rows, never raw ticks —
    * value-identical to resampling ticks directly (shared oracle
    * contract, same argument as rollup_incremental). The week key is
    * the Monday of the ISO week via date_trunc.
    */
  def ohlcWeeklyFromDaily(events: DataFrame): DataFrame = {
    val daily = ohlcResample(events)
    daily
      .withColumn("week_key",
        date_format(date_trunc("week", to_date(col("period_key"))), "yyyy-MM-dd"))
      .groupBy(col("user_id"), col("week_key"))
      .agg(
        min_by(col("open"), col("period_key")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("period_key")).as("close"),
        sum(col("n_obs")).as("n_obs"),
        sum(col("sum_value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("user_id", "week_key")
  }

  /** Per-series simple returns: value / previous value − 1 over the
    * (ts, id) order. One window shuffle partitioned by series — never
    * a global sort. The division is a single double op on raw parquet
    * values, so it is bit-identical in any engine; rounded to 6dp.
    */
  def returns(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev", lag(col("value"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= 0.0)
      .select(col("user_id"), col("event_id"),
        round(col("value") / col("prev") - 1.0, 6).as("ret"))
      .orderBy("user_id", "event_id")
  }

  /** Moving-average crossover signals (golden/death cross): rows where
    * the short SMA crosses the long SMA. Both SMAs are EXACT decimal
    * frame sums (2dp-quantized ticks), and "short above long" is the
    * cross-multiplied integer comparison s_short·c_long > s_long·c_short
    * — no float average ever exists, so the signal cannot flip on an
    * ulp the way divide-then-compare would (DuckDB evaluates window
    * sums via segment trees, Spark sequentially; only exact arithmetic
    * makes their comparison identical). One window shuffle per series.
    */
  def smaCrossover(events: DataFrame, shortN: Int = 7, longN: Int = 28): DataFrame = {
    require(shortN < longN, s"short window $shortN must be < long window $longN")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    def frame(n: Int) = w.rowsBetween(-(n - 1), Window.currentRow)
    val vd = round(col("value"), 2).cast("decimal(18,2)")
    val above = col("s_short") * col("c_long") > col("s_long") * col("c_short")
    events
      .withColumn("s_short", sum(vd).over(frame(shortN)))
      .withColumn("c_short", count(lit(1)).over(frame(shortN)))
      .withColumn("s_long", sum(vd).over(frame(longN)))
      .withColumn("c_long", count(lit(1)).over(frame(longN)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") >= longN) // long frame full: signal is meaningful
      .withColumn("above", above)
      .withColumn("prev_above", lag(col("above"), 1)
        .over(Window.partitionBy("user_id").orderBy("rn")))
      .filter(col("prev_above").isNotNull && col("above") =!= col("prev_above"))
      .select(col("user_id"), col("event_id"),
        when(col("above"), lit("golden")).otherwise(lit("death")).as("signal"))
      .orderBy("user_id", "event_id")
  }

  /** Per-series maximum drawdown: running peak via a window max (exact
    * — max of doubles has no accumulation), drawdown = (peak − v) /
    * peak as a single rounded division, then the per-series max of the
    * ROUNDED drawdowns (again exact). Two shuffles: one window, one
    * group — both on the series key.
    */
  def maxDrawdown(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("peak", max(col("value")).over(w))
      .filter(col("peak") > 0.0)
      .withColumn("dd", round((col("peak") - col("value")) / col("peak"), 6))
      .groupBy("user_id")
      .agg(max(col("dd")).as("max_drawdown"), count(lit(1)).as("n_obs"))
      .orderBy("user_id")
  }

  /** Time-weighted average price per (series, day): each tick weighted
    * by its holding duration (micros to the next tick in the day; the
    * day's last tick carries no duration and drops — the standard
    * half-open TWAP convention). Every operand is integer until the
    * end: cents × duration-micros products summed as DECIMAL(38,0),
    * then the exact 4dp HALF_UP integer identity — no float path at
    * all, because TWAP's numerator (~1e17 per group) makes double
    * summation visibly lossy as well as order-dependent. One window
    * (lead) + one aggregate, both keyed by series.
    */
  def twapDaily(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("period_key"),
        col("ts"), col("event_id"),
        (round(col("value"), 2).cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("dur", unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .filter(col("dur").isNotNull)
      .groupBy("user_id", "period_key")
      .agg(sum((col("cents") * col("dur")).cast("decimal(38,0)")).as("n_cd"),
        sum(col("dur")).as("d_us"), count(lit(1)).as("n_intervals"))
      .withColumn("d_c", (col("d_us") * 100).cast("decimal(38,0)"))
      .select(col("user_id"), col("period_key"), col("n_intervals"),
        (expr("(n_cd * 20000 + d_c) div (2 * d_c)").cast("double") / 10000.0).as("twap"))
      .orderBy("user_id", "period_key")
  }

  /** Per-series BETA against the whole-market aggregate: cov(series
    * daily turnover, market daily turnover) / var(market), the classic
    * systematic-exposure stat. Shapes: one (series, day) aggregate,
    * one per-day market aggregate (bounded by the day count —
    * genuinely broadcastable at any corpus size), a broadcast join,
    * one per-series aggregate. EVERY sum is integer cents (products as
    * DECIMAL(38,0)), the covariance/variance identity n·Σxy − Σx·Σy is
    * evaluated in decimal, and the single final division is the only
    * float op — bit-identical across engines, no rounded-moments
    * drift. Series with < 2 days or zero market variance drop.
    */
  def seriesBeta(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum((round(col("value"), 2).cast("decimal(18,2)") * 100).cast("long")).as("x"))
    val market = daily.groupBy("day").agg(sum(col("x")).as("y"))
    daily.join(broadcast(market), "day")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      .withColumn("num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n_days") * col("syy") - col("sy") * col("sy"))
      .filter(col("n_days") >= 2 && col("den") =!= 0)
      .select(col("user_id"), col("n_days"),
        round(col("num").cast("double") / col("den").cast("double"), 6).as("beta"))
      .orderBy("user_id")
  }

  /** Chart-grade series DOWNSAMPLING — largest-triangle selection per
    * bucket (the LTTB family): each series keeps its endpoints plus,
    * per interior bucket, the point forming the largest triangle with
    * the NEIGHBOR BUCKET MEANS. Classic LTTB anchors on the previously
    * *selected* point, a sequential dependency that cannot parallelize;
    * the bucket-mean-anchor variant (Steinarsson 2013 §4.2's
    * LTTB-with-fixed-anchors) is embarrassingly parallel — every
    * bucket decides independently — and visually equivalent for
    * dashboard rendering. Shapes: two series-keyed windows (rank,
    * rebase), one bucket aggregate, two small neighbor joins, one
    * argmax aggregate. Output is ≤ nBuckets rows per series however
    * many ticks exist — the point of the operator.
    *
    * Exactness: x is epoch-micros REBASED to the series start (keeps
    * products inside decimal(38)), y is integer cents; the triangle
    * area comparison is the cross product scaled by n_prev²·n_next —
    * every operand integer, so the argmax (with an id tie-break via a
    * composite order string) is engine-identical. No float exists
    * anywhere in the operator.
    */
  def lttbDownsample(events: DataFrame, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 3, "need first + last + at least one interior bucket")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy("user_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // materialized ONCE: base (the tick scan + the rank/count/rebase
    // windows) feeds FIVE branches (bucket sums, candidates, first/
    // last anchors, endpoints) — unchecked, the windows replay per
    // branch (the exchange below them is reused, the window compute
    // above it is not). localCheckpoint = the bm25/incremental-merge
    // convention for multi-consumer narrow intermediates.
    val base = events
      .select(col("user_id"), col("event_id"), col("ts"),
        (round(col("value"), 2).cast("decimal(18,2)") * 100).cast("long").as("y"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("x", unix_micros(col("ts")) - min(unix_micros(col("ts"))).over(wAll))
      .filter(col("n") >= 3)
      .select(col("user_id"), col("event_id"), col("y"), col("rn"),
        col("n"), col("x"))
      .localCheckpoint(true)
    // interior points spread over buckets 1 .. nBuckets-2; endpoints
    // own buckets 0 and nBuckets-1 (the classic LTTB convention)
    val mids = base.filter(col("rn") > 1 && col("rn") < col("n"))
      .withColumn("bucket",
        lit(1) + expr(s"((rn - 2) * ${nBuckets - 2}) div (n - 2)"))
    val bSums = mids.groupBy(col("user_id"), col("bucket"))
      .agg(sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        count(lit(1)).as("nb"))
    val p = bSums.select(col("user_id").as("p_uid"), col("bucket").as("p_bucket"),
      col("sx").as("sx_p"), col("sy").as("sy_p"), col("nb").as("n_p"))
    val nx = bSums.select(col("user_id").as("n_uid"), col("bucket").as("n_bucket"),
      col("sx").as("sx_n"), col("sy").as("sy_n"), col("nb").as("n_n"))
    // first/last interior bucket anchor on the series endpoints
    // (a one-point "bucket": sums = the endpoint, count = 1)
    val firstPt = base.filter(col("rn") === 1).select(
      col("user_id").as("p_uid"), lit(0).as("p_bucket"),
      col("x").cast("decimal(38,0)").as("sx_p"),
      col("y").cast("decimal(38,0)").as("sy_p"), lit(1L).as("n_p"))
    val lastPt = base.filter(col("rn") === col("n")).select(
      col("user_id").as("n_uid"), lit(nBuckets - 1).as("n_bucket"),
      col("x").cast("decimal(38,0)").as("sx_n"),
      col("y").cast("decimal(38,0)").as("sy_n"), lit(1L).as("n_n"))
    val prevAll = p.unionByName(firstPt)
    val nextAll = nx.unionByName(lastPt)
    val cand = mids
      .join(prevAll, col("user_id") === col("p_uid") &&
        col("p_bucket") === col("bucket") - 1)
      .join(nextAll, col("user_id") === col("n_uid") &&
        col("n_bucket") === col("bucket") + 1)
    // 2·area·n_p²·n_n = |(Sx_p·n_n − Sx_n·n_p)(y·n_p − Sy_p)
    //                   − (Sx_p − x·n_p)(Sy_n·n_p − Sy_p·n_n)|
    val a2 = abs(
      (col("sx_p") * col("n_n") - col("sx_n") * col("n_p")) *
        (col("y") * col("n_p") - col("sy_p")) -
      (col("sx_p") - col("x") * col("n_p")) *
        (col("sy_n") * col("n_p") - col("sy_p") * col("n_n")))
      .cast("decimal(38,0)")
    // struct ordering ≡ the 52-char padded-string concat it replaces
    // (area non-negative decimal, reversed id non-negative and unique)
    val okey = struct(a2.as("a"),
      (lit(999999999999L) - col("event_id")).as("r"))
    val chosen = cand.groupBy(col("user_id"), col("bucket"))
      .agg(max_by(col("event_id"), okey).as("event_id"),
        max_by(col("y"), okey).as("y_sel"))
    val endpoints = base.filter(col("rn") === 1 || col("rn") === col("n"))
      .select(col("user_id"),
        when(col("rn") === 1, lit(0)).otherwise(lit(nBuckets - 1)).as("bucket"),
        col("event_id"), col("y").as("y_sel"))
    chosen.unionByName(endpoints)
      .select(col("user_id"), col("bucket"), col("event_id"),
        (col("y_sel").cast("double") / 100.0).as("value"))
      .orderBy("user_id", "bucket")
  }

  /** Integer-cent daily bars per (user, day) — the shared input of the
    * whole indicator family: high/low/close cents (close via max_by
    * over the composite order key, the [[ohlcResample]] convention)
    * plus the day's tick count. ONE map-side-combinable hash
    * aggregate; every indicator adds only series-keyed windows on top.
    * [[writeBarsTable]] persists this bucketed by the series key so a
    * recurring indicator run reads |days| bars with ZERO exchanges
    * instead of re-aggregating raw ticks — the activity-rollup
    * lifecycle applied to market data.
    */
  def dailyBars(events: DataFrame): DataFrame = {
    events
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg((max(round(col("value"), 2)).cast("decimal(18,2)") * 100).cast("long").as("h"),
        (min(round(col("value"), 2)).cast("decimal(18,2)") * 100).cast("long").as("l"),
        closeCents(col("value"), col("ts"), col("event_id")).as("c"),
        count(lit(1)).as("n_obs"))
  }

  /** Persist the daily bar table BUCKETED by the series key: the
    * tick→bar shuffle is paid once at write, and every series-keyed
    * indicator window over the table plans zero hash exchanges
    * (spec-asserted). Day grain means |series|·|days| rows — the
    * compact artifact every indicator consumer shares.
    */
  def writeBarsTable(events: DataFrame, table: String, numBuckets: Int = 8): Unit =
    graft.sources.Sinks.writeBucketed(dailyBars(events), table,
      Seq("user_id"), numBuckets)

  private def dailyCloses(events: DataFrame): DataFrame =
    dailyBars(events).select("user_id", "day", "c", "n_obs")

  /** Cutler's RSI over daily closes — the SMA form of the relative
    * strength index (Wilder's original smoothing is a float recursion;
    * Cutler's simple-average variant is the classic all-integer fix.
    * The recursive original IS also available — [[rsiWilder]] makes it
    * engine-exact via per-step re-rounding): per day,
    * gain/loss = the positive/negative part of the close-to-close cent
    * delta, summed over the trailing n-delta frame, and
    * RSI = 100·G/(G+L) emitted in integer BASIS POINTS via the HALF_UP
    * identity floor((2·G·10⁴ + (G+L)) / (2·(G+L))) — no float division
    * anywhere. A flat frame (G+L = 0) is RSI 50 by convention (5000 bp).
    * Shapes: one close aggregate + two series-keyed windows — series
    * count never multiplies job count.
    */
  def rsiCutler(events: DataFrame, n: Int = 14): DataFrame =
    rsiFromBars(dailyCloses(events), n)

  /** [[rsiCutler]] over an already-materialized bar table (the
    * [[writeBarsTable]] artifact): the series-keyed windows ride the
    * bucket layout with zero hash exchanges — a recurring indicator
    * job reads |days| bars, never raw ticks. Same output contract
    * (shared oracle with the direct form).
    */
  def rsiFromBars(bars: DataFrame, n: Int = 14): DataFrame = {
    require(n >= 2, s"RSI window must be >= 2, got $n")
    val w = Window.partitionBy("user_id").orderBy("day")
    val frame = w.rowsBetween(-(n - 1), Window.currentRow)
    bars
      .withColumn("delta", col("c") - lag(col("c"), 1).over(w))
      .filter(col("delta").isNotNull)
      .withColumn("g", sum(greatest(col("delta"), lit(0L))).over(frame))
      .withColumn("l", sum(greatest(-col("delta"), lit(0L))).over(frame))
      .withColumn("nd", count(lit(1)).over(frame))
      .filter(col("nd") === n) // full frame only: partial RSI is noise
      .select(col("user_id"), col("day"),
        when(col("g") + col("l") === 0, lit(5000L))
          .otherwise(expr("(2 * g * 10000 + (g + l)) div (2 * (g + l))"))
          .as("rsi_bp"))
      .orderBy("user_id", "day")
  }

  /** Bollinger-band BREACHES over daily closes: days where the close
    * leaves the n-day mean ± k·σ envelope. The breach test never
    * materializes a float σ — with cent sums s = Σc, s2 = Σc² over the
    * frame, `close > mean + k·σ_pop` is equivalent (after multiplying
    * through by n and squaring the positive side) to
    * `dev > 0 ∧ dev² > k²·(n·s2 − s²)` with dev = c·n − s, every
    * operand an exact decimal integer — an ulp of float σ cannot flip
    * a breach the way mean+stddev comparison would. Emits breach rows
    * only (the alert stream), with the band mean recovered 4dp-exact
    * via the HALF_UP integer identity. One aggregate + one series-keyed
    * window.
    */
  def bollingerBreaches(events: DataFrame, n: Int = 20, k: Int = 2): DataFrame = {
    require(n >= 2 && k >= 1, s"need n >= 2, k >= 1; got n=$n k=$k")
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(-(n - 1), Window.currentRow)
    dailyCloses(events)
      .withColumn("s", sum(col("c").cast("decimal(38,0)")).over(w))
      .withColumn("s2", sum((col("c") * col("c")).cast("decimal(38,0)")).over(w))
      .withColumn("nd", count(lit(1)).over(w))
      .filter(col("nd") === n)
      .withColumn("dev", (col("c") * n - col("s")).cast("decimal(38,0)"))
      .withColumn("varn2", (col("s2") * n - col("s") * col("s")).cast("decimal(38,0)"))
      .filter(col("dev") * col("dev") > col("varn2") * (k * k))
      .select(col("user_id"), col("day"),
        (col("c").cast("double") / 100.0).as("close"),
        when(col("dev") > 0, lit("upper")).otherwise(lit("lower")).as("band"),
        (expr("(2 * s * 100 + nd) div (2 * nd)").cast("double") / 10000.0)
          .as("band_mean"))
      .orderBy("user_id", "day")
  }

  /** On-balance volume per (series, day): the running signed-volume
    * accumulation (up-day adds the day's tick count, down-day subtracts
    * it, flat contributes zero — n_obs standing in for share volume,
    * the only volume the tick stream carries). All-integer: cent-close
    * deltas decide the sign, longs accumulate. Two windows over ONE
    * series partitioning.
    */
  def obvDaily(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    dailyCloses(events)
      .withColumn("delta", col("c") - lag(col("c"), 1).over(w))
      .withColumn("signed",
        when(col("delta").isNull || col("delta") === 0, lit(0L))
          .when(col("delta") > 0, col("n_obs"))
          .otherwise(-col("n_obs")))
      .withColumn("obv", sum(col("signed"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("day"), col("obv"))
      .orderBy("user_id", "day")
  }

  /** Top-k daily movers (the gainers/losers dashboard): close-to-close
    * change per (series, day) in signed integer basis points via the
    * positive-operand HALF_UP identity floor((2·c·10⁴ + p)/(2p)) − 10⁴
    * (both closes positive, so no floor-vs-truncate divergence on the
    * negative CHANGE — the [[region_mom_growth]] convention), ranked by
    * |change| with a composite (user, day) tie-break. TakeOrdered top-k
    * — never a global sort of the mover table.
    */
  def topMovers(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    dailyCloses(events)
      .withColumn("p", lag(col("c"), 1).over(w))
      .filter(col("p").isNotNull && col("p") > 0 && col("c") > 0)
      .withColumn("change_bp", expr("(2 * c * 10000 + p) div (2 * p) - 10000"))
      .select(col("user_id"), col("day"),
        (col("p").cast("double") / 100.0).as("prev_close"),
        (col("c").cast("double") / 100.0).as("close"),
        col("change_bp"))
      .orderBy(abs(col("change_bp")).desc, col("user_id"), col("day"))
      .limit(k)
  }

  /** Average True Range over daily bars — the classic volatility
    * indicator, entirely in integer CENTS: the true range per day is
    * max(high−low, |high−prev_close|, |low−prev_close|) (gaps count —
    * the reason TR exists instead of plain high−low), and ATR is its
    * n-day simple average emitted via the HALF_UP integer identity
    * (Wilder's recursive smoothing is a float infinite recursion —
    * the [[rsiCutler]] argument, same fix). One bar aggregate + two
    * series-keyed windows; full frames only.
    */
  def atr(events: DataFrame, n: Int = 14): DataFrame = {
    require(n >= 1, s"ATR window must be >= 1, got $n")
    val bars = dailyBars(events)
    val w = Window.partitionBy("user_id").orderBy("day")
    val frame = w.rowsBetween(-(n - 1), Window.currentRow)
    bars
      .withColumn("pc", lag(col("c"), 1).over(w))
      .filter(col("pc").isNotNull)
      .withColumn("tr", greatest(col("h") - col("l"),
        abs(col("h") - col("pc")), abs(col("l") - col("pc"))))
      .withColumn("s_tr", sum(col("tr")).over(frame))
      .withColumn("nd", count(lit(1)).over(frame))
      .filter(col("nd") === n)
      .select(col("user_id"), col("day"),
        // ATR in price units, 4dp: round(s_tr·100/n) then /10⁴
        (expr("(2 * s_tr * 100 + nd) div (2 * nd)").cast("double") / 10000.0)
          .as("atr"))
      .orderBy("user_id", "day")
  }

  /** Stochastic oscillator %K over daily bars: where today's close
    * sits inside the n-day high–low channel, in integer BASIS POINTS
    * via the HALF_UP identity on cent operands — flat channels (high =
    * low) emit 5000 bp by convention rather than dividing by zero.
    * The %K > 80% / < 20% bands are the classic overbought/oversold
    * screen; emitting the raw bp leaves the banding to the consumer.
    * Same shapes as [[atr]]: one bar aggregate + one windowed pass.
    */
  def stochasticK(events: DataFrame, n: Int = 14): DataFrame = {
    require(n >= 1, s"stochastic window must be >= 1, got $n")
    val bars = dailyBars(events)
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(-(n - 1), Window.currentRow)
    bars
      .withColumn("hh", max(col("h")).over(w))
      .withColumn("ll", min(col("l")).over(w))
      .withColumn("nd", count(lit(1)).over(w))
      .filter(col("nd") === n)
      .select(col("user_id"), col("day"),
        when(col("hh") === col("ll"), lit(5000L))
          .otherwise(expr("(2 * (c - ll) * 10000 + (hh - ll)) div (2 * (hh - ll))"))
          .as("k_bp"))
      .orderBy("user_id", "day")
  }

  /** Donchian channels over daily bars: the n-day rolling high/low
    * envelope plus its midline, with the classic breakout signal —
    * close crossing YESTERDAY's channel edge (today's channel already
    * contains today's bar, so comparing against it can never signal).
    * All integer cents: channel edges are window max/min, the midline
    * is the HALF_UP half-sum identity (u+l+1) div 2, and the signal is
    * an integer compare — engine-exact everywhere, prices emitted as
    * exact integer-cent divisions. Same shapes as [[atr]]: one bar
    * aggregate + windows on ONE series partitioning.
    */
  def donchianChannels(events: DataFrame, n: Int = 14): DataFrame = {
    require(n >= 1, s"Donchian window must be >= 1, got $n")
    val w = Window.partitionBy("user_id").orderBy("day")
    val frame = w.rowsBetween(-(n - 1), Window.currentRow)
    dailyBars(events)
      .withColumn("u", max(col("h")).over(frame))
      .withColumn("lo", min(col("l")).over(frame))
      .withColumn("nd", count(lit(1)).over(frame))
      .withColumn("pu", lag(col("u"), 1).over(w))
      .withColumn("pl", lag(col("lo"), 1).over(w))
      .filter(col("nd") === n && col("pu").isNotNull)
      .select(col("user_id"), col("day"),
        (col("u").cast("double") / 100.0).as("upper_band"),
        (col("lo").cast("double") / 100.0).as("lower_band"),
        (expr("(u + lo + 1) div 2").cast("double") / 100.0).as("mid"),
        when(col("c") > col("pu"), lit("breakout_up"))
          .when(col("c") < col("pl"), lit("breakout_down"))
          .otherwise(lit("inside")).as("signal"))
      .orderBy("user_id", "day")
  }

  /** Aroon indicator over daily bars: how recently the n-day extreme
    * printed, as 10⁴·(n − days_since_extreme)/n in integer basis
    * points. Ties break to the MOST RECENT extreme (the standard
    * "days since" reading), pinned WITHOUT argmax floats: each frame
    * row is encoded as one integer key — h·10⁵ + rn for the high (max
    * key ⇒ highest high, then latest row) and l·10⁵ + (10⁵−1−rn) for
    * the low (min key ⇒ lowest low, then latest row) — so a window
    * max/min IS the tie-broken argmax, identically in any engine.
    * One bar aggregate + windows on one series partitioning.
    */
  def aroon(events: DataFrame, n: Int = 14): DataFrame = {
    require(n >= 1, s"Aroon window must be >= 1, got $n")
    val w = Window.partitionBy("user_id").orderBy("day")
    val frame = w.rowsBetween(-(n - 1), Window.currentRow)
    dailyBars(events)
      .withColumn("rn", row_number().over(w))
      .withColumn("hk", max(expr("h * 100000 + rn")).over(frame))
      .withColumn("lk", min(expr("l * 100000 + (99999 - rn)")).over(frame))
      .withColumn("nd", count(lit(1)).over(frame))
      .filter(col("nd") === n)
      .withColumn("since_hh", col("rn") - expr("hk % 100000"))
      .withColumn("since_ll", col("rn") - expr("99999 - (lk % 100000)"))
      .select(col("user_id"), col("day"),
        expr(s"(2 * ($n - since_hh) * 10000 + $n) div (2 * $n)").as("aroon_up_bp"),
        expr(s"(2 * ($n - since_ll) * 10000 + $n) div (2 * $n)").as("aroon_down_bp"))
      .orderBy("user_id", "day")
  }

  /** Ichimoku lines over daily bars (trading-day shift convention:
    * the senkou/chikou displacement is `kijun` BAR rows, the standard
    * chart reading). Defaults are the classic 9/26/52 scaled to the
    * short test series (3/7/14) — production series pass the classic
    * periods. Every line is a HALF_UP channel midpoint on integer
    * cents ((hh+ll+1) div 2 — [[donchianChannels]]'s identity), so
    * the only floats are exact integer-cent divisions at emit;
    * row-offset shifts are lag/lead over the one series partitioning
    * (null until the displaced bar exists, both engines agree).
    * tenkan/kijun rows require full frames; senkou lines carry their
    * OWN full-frame requirement from the displaced row.
    */
  def ichimokuLines(events: DataFrame, tenkan: Int = 3, kijun: Int = 7,
                    senkou: Int = 14): DataFrame = {
    require(tenkan >= 1 && kijun >= tenkan && senkou >= kijun,
      s"ichimoku periods must satisfy 1 <= tenkan <= kijun <= senkou, got ($tenkan, $kijun, $senkou)")
    val w = Window.partitionBy("user_id").orderBy("day")
    def mid(p: Int): Column = {
      val f = w.rowsBetween(-(p - 1), Window.currentRow)
      // (hh + ll + 1) >> 1 = HALF_UP midpoint on non-negative cents
      // (Column./ would be DOUBLE division; the shift stays integer)
      when(count(lit(1)).over(f) === p,
        shiftright(max(col("h")).over(f) + min(col("l")).over(f) + lit(1L), 1))
    }
    def price(c: Column): Column = c.cast("double") / 100.0
    dailyBars(events)
      .withColumn("tk", mid(tenkan))
      .withColumn("kj", mid(kijun))
      .withColumn("sb_raw", mid(senkou))
      .withColumn("sa_raw", expr("(tk + kj + 1) div 2"))
      .withColumn("sa", lag(col("sa_raw"), kijun).over(w))
      .withColumn("sb", lag(col("sb_raw"), kijun).over(w))
      .withColumn("ck", lead(col("c"), kijun).over(w))
      .filter(col("tk").isNotNull && col("kj").isNotNull)
      .select(col("user_id"), col("day"),
        price(col("tk")).as("tenkan"), price(col("kj")).as("kijun"),
        price(col("sa")).as("senkou_a"), price(col("sb")).as("senkou_b"),
        price(col("ck")).as("chikou"))
      .orderBy("user_id", "day")
  }

  /** MACD(12, 26, 9) over daily closes — the one classic indicator
    * this family had sidestepped because it is an EMA recursion
    * (rsi_cutler/ses_forecast chose non-recursive forms). Made
    * engine-exact by carrying the recursion in INTEGER MICRO-CENTS:
    * ema(1) = c₁·10⁶, ema(t) = HALF_UP((2·cₜ·10⁶ + (n−1)·ema(t−1)) /
    * (n+1)) via the signed integer identity — no floats anywhere, so
    * the trajectory is exact in any engine. (A 6dp FLOAT fold is NOT
    * safe here: whenever n+1 shares a factor with 10 the step values
    * land exactly on decimal rounding boundaries, where Spark's
    * shortest-repr HALF_UP and a binary-value round() disagree — the
    * keltner gate caught it at /10.) EMAs seed from the first close;
    * macd = e12 − e26 and histogram = macd − signal are EXACT integer
    * differences; price-unit emission is one double division by 10⁸.
    *
    * Scale shape: ONE exchange (the groupBy on the series key); the
    * fold is per-series sequential state — exactly the |days|-scalars
    * per entity that any EMA needs — evaluated as an ordered-array
    * aggregate inside the row, no driver loop, no window recursion.
    * The array append is O(days²) element copies per series: fine at
    * daily grain (decades ≈ 10⁴ days), not for tick grain — resample
    * first, as every charting stack does.
    */
  def macd(events: DataFrame, fast: Int = 12, slow: Int = 26,
           signal: Int = 9): DataFrame =
    macdFromBars(dailyCloses(events), fast, slow, signal)

  /** [[macd]] over an already-materialized bar table (the
    * [[writeBarsTable]] artifact): the series-keyed fold rides the
    * bucket layout with ZERO hash exchanges — a recurring indicator
    * job reads |days| bars, never raw ticks (the [[rsiFromBars]]
    * lifecycle; shared oracle with the direct form).
    */
  def macdFromBars(bars: DataFrame, fast: Int = 12, slow: Int = 26,
                   signal: Int = 9): DataFrame = {
    require(1 < fast && fast < slow, s"need 1 < fast < slow, got ($fast, $slow)")
    require(signal > 1, s"signal period must be > 1, got $signal")
    bars
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("rows"))
      .withColumn("days", expr("transform(rows, r -> r.day)"))
      .withColumn("cs", expr("transform(rows, r -> r.c * 1000000L)"))
      .withColumn("e12", emaFold("cs", fast))
      .withColumn("e26", emaFold("cs", slow))
      .withColumn("macd_a", expr("zip_with(e12, e26, (a, b) -> a - b)"))
      .withColumn("sig_a", emaFold("macd_a", signal))
      .withColumn("hist_a", expr("zip_with(macd_a, sig_a, (a, b) -> a - b)"))
      .select(col("user_id"),
        posexplode(arrays_zip(col("days"), col("macd_a"), col("sig_a"), col("hist_a"))))
      .select(col("user_id"), col("col.days").as("day"),
        (col("col.macd_a").cast("double") / 100000000.0).as("macd"),
        (col("col.sig_a").cast("double") / 100000000.0).as("signal"),
        (col("col.hist_a").cast("double") / 100000000.0).as("histogram"))
      .orderBy("user_id", "day")
  }

  /** WILDER's RSI — the original recursive smoothing [[rsiCutler]]
    * deliberately sidestepped, engine-exact via the [[macd]] integer
    * convention: gains/losses in micro-cents, avg seeded with the
    * first-n SMA via the HALF_UP identity, then
    * avg(t) = HALF_UP((avg(t−1)·(n−1) + xₜ)/n) — all BIGINT, the
    * recursion replays exactly in any engine. RSI in integer bp from
    * the integer averages (flat frame = 5000 by convention). Same
    * shapes as [[macd]]: one series-keyed exchange, per-series
    * ordered-array fold, oracle replays with recursive CTEs.
    */
  def rsiWilder(events: DataFrame, n: Int = 14): DataFrame =
    rsiWilderFromBars(dailyCloses(events), n)

  /** [[rsiWilder]] over the persisted bar table — zero-exchange
    * series-keyed fold (the [[rsiFromBars]] lifecycle; shared
    * oracle with the direct form).
    */
  def rsiWilderFromBars(bars: DataFrame, n: Int = 14): DataFrame = {
    require(n >= 2, s"RSI window must be >= 2, got $n")
    bars
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("day"), col("c")))).as("rows"))
      .withColumn("days", expr("transform(rows, r -> r.day)"))
      .withColumn("cs", expr("transform(rows, r -> r.c)"))
      .withColumn("deltas", expr(
        "zip_with(slice(cs, 2, size(cs) - 1), slice(cs, 1, size(cs) - 1), (a, b) -> a - b)"))
      .filter(expr(s"size(deltas) >= $n"))
      .withColumn("g", expr("transform(deltas, x -> greatest(x, 0L) * 1000000L)"))
      .withColumn("l", expr("transform(deltas, x -> greatest(-x, 0L) * 1000000L)"))
      .withColumn("sg", expr(
        divHalfUp(s"aggregate(slice(g, 1, $n), 0L, (a, x) -> a + x)", n)))
      .withColumn("sl", expr(
        divHalfUp(s"aggregate(slice(l, 1, $n), 0L, (a, x) -> a + x)", n)))
      .withColumn("wg", wilderFold("g", "sg", n))
      .withColumn("wl", wilderFold("l", "sl", n))
      .withColumn("edays", expr(s"slice(days, ${n + 1}, size(days) - $n)"))
      .select(col("user_id"), posexplode(arrays_zip(col("edays"), col("wg"), col("wl"))))
      .select(col("user_id"), col("col.edays").as("day"),
        expr("CASE WHEN col.wg + col.wl = 0L THEN 5000L " +
          "ELSE (2 * col.wg * 10000 + (col.wg + col.wl)) div (2 * (col.wg + col.wl)) END")
          .as("rsi_bp"))
      .orderBy("user_id", "day")
  }

  /** Signed HALF_UP integer division identity, as a SQL fragment over
    * BIGINT operands: floor((2·|num| + den)/(2·den)) with the sign
    * re-applied — BigDecimal HALF_UP's away-from-zero convention on
    * exact halves, with positive `den` only.
    */
  private def divHalfUp(num: String, den: Int): String =
    s"(CASE WHEN ($num) >= 0L THEN (2 * ($num) + $den) div ${2 * den} " +
      s"ELSE -((2 * (-($num)) + $den) div ${2 * den}) END)"

  /** Integer EMA scan (micro-cent scale), shared by [[macd]] and
    * [[keltner]]: ema(1) = x₁, ema(t) = HALF_UP((2·xₜ + (n−1)·
    * ema(t−1))/(n+1)) — α = 2/(n+1) with NO floats anywhere. Runs as
    * `array_scan` (O(m) — the aggregate-concat idiom it replaced
    * copies O(m²) elements per series; same lambda arithmetic, so the
    * shared oracles are untouched): seed = x₁, scan the tail.
    */
  private def emaFold(src: String, n: Int): Column =
    graft.plans.ScanExprs.arrayScanSql(
      expr(s"slice($src, 2, size($src) - 1)"),
      expr(s"element_at($src, 1)"),
      "acc_s", "x_s",
      divHalfUp(s"2 * x_s + ${n - 1} * acc_s", n + 1))

  /** Integer Wilder 1/n scan past the SMA seed, shared by
    * [[rsiWilder]], [[keltner]]'s ATR, [[supertrendFromBars]] and
    * [[adxFromBars]]: avg(t) = HALF_UP((avg(t−1)·(n−1) + xₜ)/n),
    * micro-cent scale; `array_scan` for the O(m) trajectory.
    */
  private def wilderFold(src: String, seed: String, n: Int): Column =
    graft.plans.ScanExprs.arrayScanSql(
      expr(s"slice($src, ${n + 1}, size($src) - $n)"),
      expr(seed),
      "acc_s", "x_s",
      divHalfUp(s"acc_s * ${n - 1} + x_s", n))

  /** Keltner channels — the EMA-based volatility envelope (the
    * [[donchianChannels]] shape with smoothed center and width): mid =
    * integer-EMA of the typical price HALF_UP((h+l+c)·10⁶/3), band
    * width = `mult`·ATR where ATR is the integer Wilder fold over true
    * ranges seeded with the first-`atrN` SMA ([[rsiWilder]]'s
    * seeding). All BIGINT micro-cents; band edges are exact integer
    * sums. Emitted from the first day the ATR is defined. Same shapes
    * as [[macd]]: one series-keyed exchange, per-series ordered-array
    * folds, recursive-CTE oracle.
    */
  def keltner(events: DataFrame, emaN: Int = 20, atrN: Int = 10,
              mult: Int = 2): DataFrame =
    keltnerFromBars(dailyBars(events), emaN, atrN, mult)

  /** [[keltner]] over the persisted bar table — zero-exchange
    * series-keyed folds (the [[rsiFromBars]] lifecycle; shared
    * oracle with the direct form).
    */
  def keltnerFromBars(bars: DataFrame, emaN: Int = 20, atrN: Int = 10,
                      mult: Int = 2): DataFrame = {
    require(emaN >= 2 && atrN >= 1, s"need emaN >= 2, atrN >= 1, got ($emaN, $atrN)")
    bars
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("day"), col("h"), col("l"), col("c"))))
        .as("rows"))
      .filter(expr(s"size(rows) >= $atrN"))
      .withColumn("days", expr("transform(rows, r -> r.day)"))
      .withColumn("typ", expr(
        s"transform(rows, r -> ${divHalfUp("(r.h + r.l + r.c) * 1000000L", 3)})"))
      .withColumn("tr", expr(
        // element_at is 1-based (a bare rows[i] subscript would be
        // 0-based in Spark SQL — off by one vs the DuckDB replay)
        "transform(sequence(1, size(rows)), i -> (CASE WHEN i = 1 " +
          "THEN element_at(rows, 1).h - element_at(rows, 1).l " +
          "ELSE greatest(element_at(rows, i).h - element_at(rows, i).l, " +
          "abs(element_at(rows, i).h - element_at(rows, i - 1).c), " +
          "abs(element_at(rows, i).l - element_at(rows, i - 1).c)) END) * 1000000L)"))
      .withColumn("mid_a", emaFold("typ", emaN))
      .withColumn("seed_atr", expr(
        divHalfUp(s"aggregate(slice(tr, 1, $atrN), 0L, (a, x) -> a + x)", atrN)))
      .withColumn("atr_a", wilderFold("tr", "seed_atr", atrN))
      .withColumn("emid", expr(s"slice(mid_a, $atrN, size(mid_a) - ${atrN - 1})"))
      .withColumn("edays", expr(s"slice(days, $atrN, size(days) - ${atrN - 1})"))
      .select(col("user_id"), posexplode(arrays_zip(col("edays"), col("emid"), col("atr_a"))))
      .select(col("user_id"), col("col.edays").as("day"),
        (col("col.emid").cast("double") / 100000000.0).as("mid"),
        (col("col.atr_a").cast("double") / 100000000.0).as("atr"),
        ((col("col.emid") + lit(mult) * col("col.atr_a")).cast("double") / 100000000.0)
          .as("upper_band"),
        ((col("col.emid") - lit(mult) * col("col.atr_a")).cast("double") / 100000000.0)
          .as("lower_band"))
      .orderBy("user_id", "day")
  }

  /** Pairwise correlation MATRIX of the top-N series by total turnover
    * — the cross-asset dashboard heat-map. The quadratic term is
    * bounded by N (a TakeOrdered top-N on the per-series totals,
    * broadcast back — the domain-bounded pair convention of
    * source_vocab_jaccard), never by series count: the day-keyed
    * self-join touches N²/2 pairs per day however many series exist.
    * Moments are exact decimal cent sums ([[seriesBeta]]'s policy);
    * the single float op is the final corr division. Pairs ordered
    * u1 < u2; degenerate (zero-variance) pairs drop.
    */
  def seriesCorrTopN(events: DataFrame, topN: Int = 8): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum((round(col("value"), 2).cast("decimal(18,2)") * 100).cast("long")).as("x"))
    val top = daily.groupBy("user_id")
      .agg(sum(col("x").cast("decimal(38,0)")).as("total"))
      .orderBy(col("total").desc, col("user_id"))
      .limit(topN)
      .select(col("user_id"))
    val dt = daily.join(broadcast(top), "user_id")
    val a = dt.select(col("user_id").as("u1"), col("day"), col("x").as("xa"))
    val b = dt.select(col("user_id").as("u2"), col("day"), col("x").as("xb"))
    a.join(b, Seq("day")).filter(col("u1") < col("u2"))
      .groupBy("u1", "u2")
      .agg(count(lit(1)).as("n_days"),
        sum(col("xa").cast("decimal(38,0)")).as("sx"),
        sum(col("xb").cast("decimal(38,0)")).as("sy"),
        sum((col("xa") * col("xb")).cast("decimal(38,0)")).as("sxy"),
        sum((col("xa") * col("xa")).cast("decimal(38,0)")).as("sxx"),
        sum((col("xb") * col("xb")).cast("decimal(38,0)")).as("syy"))
      .withColumn("num", (col("n_days") * col("sxy") - col("sx") * col("sy"))
        .cast("decimal(38,0)"))
      .withColumn("denx", (col("n_days") * col("sxx") - col("sx") * col("sx"))
        .cast("decimal(38,0)"))
      .withColumn("deny", (col("n_days") * col("syy") - col("sy") * col("sy"))
        .cast("decimal(38,0)"))
      .filter(col("denx") > 0 && col("deny") > 0)
      .select(col("u1"), col("u2"), col("n_days"),
        round(col("num").cast("double") /
          sqrt(col("denx").cast("double") * col("deny").cast("double")), 4)
          .as("corr"))
      .orderBy("u1", "u2")
  }

  /** Longest underwater stretch per series — the DURATION companion of
    * [[maxDrawdown]]'s depth: the maximum run of consecutive
    * observation days the daily close sits strictly below its running
    * peak (recovery risk reads in days, not percent). Gaps-and-islands
    * over the day sequence ([[user_streaks]]'s `rn − rn_under` island
    * key applied to the underwater flag), all-integer on cents. Two
    * windows + one aggregate, all on the series key.
    */
  def drawdownDuration(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    val peakW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val under = dailyCloses(events)
      .withColumn("peak", max(col("c")).over(peakW))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_days", count(lit(1))
        .over(Window.partitionBy("user_id")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("c") < col("peak"))
      .withColumn("island", col("rn") - row_number().over(w))
    under.groupBy(col("user_id"), col("n_days"), col("island"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("user_id"), col("n_days"))
      .agg(max(col("run")).as("max_underwater_days"))
      .select(col("user_id"), col("max_underwater_days"), col("n_days"))
      .orderBy("user_id")
  }

  /** Volume-weighted average price per (supplier, ship month): exact
    * decimal sums of notional and quantity, ONE double division at the
    * end. Plain hash aggregate with map-side partials — the 100 TB
    * shape. (VWAP is the canonical "don't average the averages"
    * aggregate: the reference's avg-of-Close columns cannot express
    * it.)
    */
  def vwap(lineitem: DataFrame): DataFrame = {
    // exact 4dp HALF_UP of N/Q via the integer identity
    // floor((2·N·10⁴ + Q) / 2Q) — `round(double, 4)` is engine-divergent
    // exactly at half boundaries (Spark rounds the decimal expansion of
    // the double, DuckDB rounds a scaled float); the identity never
    // materializes a float until the final single division by 10⁴
    lineitem
      .groupBy(col("l_suppkey"), date_format(col("l_shipdate"), "yyyy-MM").as("period_key"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("notional_d"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("qty_d"))
      .filter(col("qty_d") > 0)
      .withColumn("n_c", (col("notional_d") * 100).cast("long"))
      .withColumn("q_c", (col("qty_d") * 100).cast("long"))
      .select(col("l_suppkey"), col("period_key"),
        (expr("(n_c * 20000 + q_c) DIV (q_c * 2)").cast("double") / 10000.0).as("vwap"),
        col("notional_d").cast("double").as("notional"))
      .orderBy("l_suppkey", "period_key")
  }

  /** Williams %R over daily bars — the inverted [[stochasticK]]
    * reading (where the close sits relative to the n-day HIGH instead
    * of the low): emitted as integer basis points of (hh−c)/(hh−ll)
    * via the HALF_UP identity, flat channel = 5000 by convention, so
    * wr_bp = 10⁴ − k_bp identically. Same shapes: one bar aggregate +
    * one series-keyed window.
    */
  def williamsR(events: DataFrame, n: Int = 14): DataFrame = {
    require(n >= 1, s"Williams window must be >= 1, got $n")
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(-(n - 1), Window.currentRow)
    dailyBars(events)
      .withColumn("hh", max(col("h")).over(w))
      .withColumn("ll", min(col("l")).over(w))
      .withColumn("nd", count(lit(1)).over(w))
      .filter(col("nd") === n)
      .select(col("user_id"), col("day"),
        when(col("hh") === col("ll"), lit(5000L))
          .otherwise(expr("(2 * (hh - c) * 10000 + (hh - ll)) div (2 * (hh - ll))"))
          .as("wr_bp"))
      .orderBy("user_id", "day")
  }

  /** Commodity Channel Index over daily bars, ALL-INTEGER: with
    * T = h+l+c (3× the typical price in cents), S = Σ T over the
    * n-frame and D = Σ|n·Tᵢ − S| (3n²× the mean deviation),
    * CCI = (tp − sma)/(0.015·md) = (n·T − S)·n·1000/(15·D) exactly —
    * the /3 fractions cancel, so the classic float pipeline reduces
    * to one signed HALF_UP division of BIGINT operands, emitted in
    * HUNDREDTHS (cci_c). A zero-deviation frame (all T equal) emits 0.
    * Two windowed passes on ONE series partitioning (the frame sum is
    * reused across both), bars aggregated once.
    */
  def cci(events: DataFrame, n: Int = 20): DataFrame = {
    require(n >= 2, s"CCI window must be >= 2, got $n")
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(-(n - 1), Window.currentRow)
    dailyBars(events)
      .withColumn("t3", col("h") + col("l") + col("c"))
      .withColumn("s3", sum(col("t3")).over(w))
      .withColumn("nd", count(lit(1)).over(w))
      // second pass needs S fixed per CURRENT row, so the deviation
      // sum runs over the lagged t3 values collected in the frame:
      // Σ|n·tᵢ − S| via an array fold over the frame's t3 list
      .withColumn("devs", collect_list(col("t3")).over(w))
      .filter(col("nd") === n)
      .withColumn("d3", expr(
        s"aggregate(devs, 0L, (acc, x) -> acc + abs($n * x - s3))"))
      .select(col("user_id"), col("day"),
        when(col("d3") === 0L, lit(0L))
          .otherwise(expr(divHalfUpCol(s"($n * t3 - s3) * $n * 100000", "15 * d3")))
          .as("cci_c"))
      .orderBy("user_id", "day")
  }

  /** Rate-of-change + momentum over daily closes: momentum is the
    * exact n-day close delta in price units, ROC the signed HALF_UP
    * basis-point ratio vs the n-day-old close — integer cents end to
    * end (prices are positive so the denominator never degenerates).
    * One bar aggregate + one lag window.
    */
  def rocMomentum(events: DataFrame, n: Int = 10): DataFrame = {
    require(n >= 1, s"ROC lookback must be >= 1, got $n")
    val w = Window.partitionBy("user_id").orderBy("day")
    dailyBars(events)
      .withColumn("pc", lag(col("c"), n).over(w))
      .filter(col("pc").isNotNull)
      .select(col("user_id"), col("day"),
        ((col("c") - col("pc")).cast("double") / 100.0).as("momentum"),
        expr(divHalfUpCol("(c - pc) * 10000", "pc")).as("roc_bp"))
      .orderBy("user_id", "day")
  }

  /** Money Flow Index over daily bars — volume-weighted RSI where the
    * tick count per day (n_obs) stands in for volume: raw money flow
    * = T·v (T = 3× typical price in cents — the /3 cancels in the
    * final ratio), classified up/down by T vs yesterday's T (equal
    * days drop out, the standard convention), PMF/NMF summed over the
    * n-frame and emitted as HALF_UP basis points of PMF/(PMF+NMF); a
    * frame with no directional flow emits 5000. One bar aggregate +
    * lag + one frame window.
    */
  def mfi(events: DataFrame, n: Int = 14): DataFrame = {
    require(n >= 1, s"MFI window must be >= 1, got $n")
    val w = Window.partitionBy("user_id").orderBy("day")
    val frame = w.rowsBetween(-(n - 1), Window.currentRow)
    dailyBars(events)
      .withColumn("t3", col("h") + col("l") + col("c"))
      .withColumn("pt3", lag(col("t3"), 1).over(w))
      .filter(col("pt3").isNotNull)
      .withColumn("pmf", when(col("t3") > col("pt3"),
        col("t3") * col("n_obs")).otherwise(lit(0L)))
      .withColumn("nmf", when(col("t3") < col("pt3"),
        col("t3") * col("n_obs")).otherwise(lit(0L)))
      .withColumn("s_pmf", sum(col("pmf")).over(frame))
      .withColumn("s_nmf", sum(col("nmf")).over(frame))
      .withColumn("nd", count(lit(1)).over(frame))
      .filter(col("nd") === n)
      .select(col("user_id"), col("day"),
        when(col("s_pmf") + col("s_nmf") === 0L, lit(5000L))
          .otherwise(expr(
            "(2 * s_pmf * 10000 + (s_pmf + s_nmf)) div (2 * (s_pmf + s_nmf))"))
          .as("mfi_bp"))
      .orderBy("user_id", "day")
  }

  /** Classic floor-trader pivot points from YESTERDAY's bar: pivot =
    * HALF_UP((h+l+c)/3) in integer cents, R1/S1 mirror the close
    * through the pivot, R2/S2 add the full prior range — every level
    * an exact integer-cent sum off the one rounded pivot, plus the
    * position signal of today's close against the ladder (integer
    * compares). One bar aggregate + one lag window; levels emitted in
    * price units as exact /100 doubles.
    */
  def pivotPoints(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    dailyBars(events)
      .withColumn("ph", lag(col("h"), 1).over(w))
      .withColumn("pl", lag(col("l"), 1).over(w))
      .withColumn("pcl", lag(col("c"), 1).over(w))
      .filter(col("ph").isNotNull)
      // prices are positive so the unsigned identity suffices
      .withColumn("p", expr("(2 * (ph + pl + pcl) + 3) div 6"))
      .withColumn("r1", lit(2L) * col("p") - col("pl"))
      .withColumn("s1", lit(2L) * col("p") - col("ph"))
      .withColumn("r2", col("p") + (col("ph") - col("pl")))
      .withColumn("s2", col("p") - (col("ph") - col("pl")))
      .select(col("user_id"), col("day"),
        (col("p").cast("double") / 100.0).as("pivot"),
        (col("r1").cast("double") / 100.0).as("r1"),
        (col("s1").cast("double") / 100.0).as("s1"),
        (col("r2").cast("double") / 100.0).as("r2"),
        (col("s2").cast("double") / 100.0).as("s2"),
        when(col("c") > col("r1"), lit("above_r1"))
          .when(col("c") > col("p"), lit("above_pivot"))
          .when(col("c") >= col("s1"), lit("above_s1"))
          .otherwise(lit("below_s1")).as("zone"))
      .orderBy("user_id", "day")
  }

  /** [[divHalfUp]] with a COLUMN denominator (positive), as a SQL
    * fragment: the signed HALF_UP identity where the divisor is an
    * expression rather than a literal.
    */
  private def divHalfUpCol(num: String, den: String): String =
    s"(CASE WHEN ($num) >= 0L THEN (2 * ($num) + ($den)) div (2 * ($den)) " +
      s"ELSE -((2 * (-($num)) + ($den)) div (2 * ($den))) END)"

  /** Daily bars WITH the open (min_by first tick) — [[dailyBars]]
    * plus `o`, for the operators that need all four OHLC legs.
    */
  private def dailyOhlcBars(events: DataFrame): DataFrame = {
    events
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(openCents(col("value"), col("ts"), col("event_id")).as("o"),
        (max(round(col("value"), 2)).cast("decimal(18,2)") * 100).cast("long").as("h"),
        (min(round(col("value"), 2)).cast("decimal(18,2)") * 100).cast("long").as("l"),
        closeCents(col("value"), col("ts"), col("event_id")).as("c"))
  }

  /** Heikin-Ashi candles — the classic smoothed-candle RECURSION
    * (ha_open carries across every bar since inception), engine-exact
    * by working in QUARTER-CENTS (4× cents): ha_close = o+h+l+c is
    * exact in that basis, the ha_open step (prev ha_open + prev
    * ha_close)/2 is one positive HALF_UP halving (a+p+1) div 2, and
    * ha_high/low are integer max/min against 4·h / 4·l. Emitted as
    * /400.0 doubles — the same IEEE division of the same integers in
    * any engine, no rounding anywhere. Same shapes as [[macd]]: one
    * series-keyed exchange, per-series ordered-array fold (the
    * previous-bar dependence folds over the LAGGED ha_close array),
    * recursive-CTE oracle.
    */
  def heikinAshi(events: DataFrame): DataFrame =
    heikinAshiFromBars(dailyOhlcBars(events))

  /** Persist the OHLC daily bar table BUCKETED by the series key —
    * [[writeBarsTable]] with the open leg, for the candle-shaped
    * consumers ([[heikinAshiFromBars]]): the tick→bar shuffle is paid
    * once at write, every series-keyed fold over it plans zero hash
    * exchanges.
    */
  def writeOhlcBarsTable(events: DataFrame, table: String,
                         numBuckets: Int = 8): Unit =
    graft.sources.Sinks.writeBucketed(dailyOhlcBars(events), table,
      Seq("user_id"), numBuckets)

  /** [[heikinAshi]] over an already-materialized OHLC bar table (the
    * [[writeOhlcBarsTable]] artifact): the candle recursion rides the
    * bucket layout with ZERO hash exchanges — a recurring indicator
    * job reads |days| bars, never raw ticks (the [[rsiFromBars]]
    * lifecycle; shared oracle with the direct form).
    */
  def heikinAshiFromBars(bars: DataFrame): DataFrame = {
    bars
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(
        col("day"), col("o"), col("h"), col("l"), col("c")))).as("rows"))
      .withColumn("days", expr("transform(rows, r -> r.day)"))
      .withColumn("hc4", expr("transform(rows, r -> r.o + r.h + r.l + r.c)"))
      .withColumn("seed", expr("2 * (rows[0].o + rows[0].c)"))
      // scan over the PREVIOUS bar's ha_close: step i consumes hc4[i−1]
      .withColumn("hao4", graft.plans.ScanExprs.arrayScanSql(
        expr("slice(hc4, 1, size(hc4) - 1)"), col("seed"),
        "acc_s", "x_s", "(acc_s + x_s + 1) div 2"))
      .select(col("user_id"), posexplode(arrays_zip(
        col("days"), col("hao4"), col("hc4"),
        expr("transform(rows, r -> r.h * 4)").as("h4"),
        expr("transform(rows, r -> r.l * 4)").as("l4"))))
      .select(col("user_id"), col("col.days").as("day"),
        (col("col.hao4").cast("double") / 400.0).as("ha_open"),
        (greatest(col("col.h4"), col("col.hao4"), col("col.hc4"))
          .cast("double") / 400.0).as("ha_high"),
        (least(col("col.l4"), col("col.hao4"), col("col.hc4"))
          .cast("double") / 400.0).as("ha_low"),
        (col("col.hc4").cast("double") / 400.0).as("ha_close"))
      .orderBy("user_id", "day")
  }

  /** SuperTrend — the CONDITIONAL band recursion (the hardest shape
    * in the indicator family: state that both carries and branches):
    * basic bands = (h+l)/2 ± mult·ATR with (h+l)·500000 exact in
    * micro-cents and the ATR the [[keltner]] integer Wilder fold;
    * then the final-band recursion — the upper band only ratchets
    * DOWN (reset when yesterday's close broke above it), the lower
    * only UP (reset on a break below), and the trend flips when
    * today's close crosses the just-updated opposite band, else
    * carries. Every compare is BIGINT, so the branch taken is
    * identical in any engine — the recursion is the contract. Trend
    * seeds +1 at the first ATR row unless the close opens outside the
    * seed bands. One exchange, per-series fold over a struct state
    * (fu, fl, td), recursive-CTE oracle with the same repeated-CASE
    * band expressions.
    */
  def supertrend(events: DataFrame, n: Int = 7, mult: Int = 3): DataFrame =
    supertrendFromBars(dailyBars(events), n, mult)

  /** [[supertrend]] over the persisted bar table — the conditional
    * band recursion as a zero-exchange series-keyed fold off the
    * bucket layout (the [[rsiFromBars]] lifecycle; shared oracle
    * with the direct form).
    */
  def supertrendFromBars(bars: DataFrame, n: Int = 7, mult: Int = 3): DataFrame = {
    require(n >= 1, s"SuperTrend ATR window must be >= 1, got $n")
    def st(f: String) = s"acc_s.$f"
    val fuT = s"CASE WHEN x_s.bu < ${st("fu")} OR x_s.pc > ${st("fu")} " +
      s"THEN x_s.bu ELSE ${st("fu")} END"
    val flT = s"CASE WHEN x_s.bl > ${st("fl")} OR x_s.pc < ${st("fl")} " +
      s"THEN x_s.bl ELSE ${st("fl")} END"
    bars
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("day"), col("h"), col("l"), col("c"))))
        .as("rows"))
      .filter(expr(s"size(rows) >= $n"))
      .withColumn("days", expr("transform(rows, r -> r.day)"))
      .withColumn("tr", expr(
        "transform(sequence(1, size(rows)), i -> (CASE WHEN i = 1 " +
          "THEN element_at(rows, 1).h - element_at(rows, 1).l " +
          "ELSE greatest(element_at(rows, i).h - element_at(rows, i).l, " +
          "abs(element_at(rows, i).h - element_at(rows, i - 1).c), " +
          "abs(element_at(rows, i).l - element_at(rows, i - 1).c)) END) * 1000000L)"))
      .withColumn("seed_atr", expr(
        divHalfUp(s"aggregate(slice(tr, 1, $n), 0L, (a, x) -> a + x)", n)))
      .withColumn("atr_a", wilderFold("tr", "seed_atr", n))
      // bars aligned to the ATR rows (rn ≥ n): micro-cent midpoints
      // are (h+l)·500000 EXACT, closes c·10⁶
      .withColumn("emids", expr(
        s"transform(slice(rows, $n, size(rows) - ${n - 1}), r -> (r.h + r.l) * 500000L)"))
      .withColumn("ecs", expr(
        s"transform(slice(rows, $n, size(rows) - ${n - 1}), r -> r.c * 1000000L)"))
      .withColumn("edays", expr(s"slice(days, $n, size(days) - ${n - 1})"))
      .withColumn("bu", expr(s"zip_with(emids, atr_a, (m, a) -> m + $mult * a)"))
      .withColumn("bl", expr(s"zip_with(emids, atr_a, (m, a) -> m - $mult * a)"))
      // the (bu, bl, c, prev c) step items, 1 per bar past the seed
      .withColumn("items", expr(
        // sequence(2, 1) would DESCEND, not return empty — guard the
        // single-ATR-row series explicitly
        "CASE WHEN size(bu) < 2 THEN array() " +
          "ELSE transform(sequence(2, size(bu)), i -> named_struct(" +
          "'bu', element_at(bu, i), 'bl', element_at(bl, i), " +
          "'c', element_at(ecs, i), 'pc', element_at(ecs, i - 1))) END"))
      .withColumn("st", graft.plans.ScanExprs.arrayScanSql(
        // seed state at the first ATR row, then scan the steps; the
        // updated bands are re-derived inside the trend CASE (lambdas
        // can't bind intermediates — the CASE repeats verbatim, same
        // as the oracle's recursive CTE)
        col("items"),
        expr("named_struct(" +
          "'fu', element_at(bu, 1), 'fl', element_at(bl, 1), " +
          "'td', CASE WHEN element_at(ecs, 1) > element_at(bu, 1) THEN 1L " +
          "WHEN element_at(ecs, 1) < element_at(bl, 1) THEN -1L ELSE 1L END)"),
        "acc_s", "x_s",
        s"named_struct('fu', $fuT, 'fl', $flT, " +
          s"'td', CASE WHEN x_s.c > ($fuT) THEN 1L WHEN x_s.c < ($flT) THEN -1L " +
          s"ELSE ${st("td")} END)"))
      .select(col("user_id"), posexplode(arrays_zip(col("edays"), col("st"))))
      .select(col("user_id"), col("col.edays").as("day"),
        (col("col.st.fu").cast("double") / 100000000.0).as("upper_band"),
        (col("col.st.fl").cast("double") / 100000000.0).as("lower_band"),
        col("col.st.td").as("trend"),
        (when(col("col.st.td") === 1L, col("col.st.fl"))
          .otherwise(col("col.st.fu")).cast("double") / 100000000.0).as("supertrend"))
      .orderBy("user_id", "day")
  }

  /** ADX — Wilder's directional system, FOUR chained integer
    * recursions ([[rsiWilder]]'s convention end to end): ±DM and TR
    * in micro-cents Wilder-smoothed past first-n SMA seeds, DI± as
    * HALF_UP basis points of smoothed DM over smoothed TR, DX as bp
    * of |DI+−DI−|/(DI++DI−), and ADX as a FOURTH Wilder fold over DX
    * carried in micro-bp. All BIGINT with magnitude headroom
    * (micro-cent DMs ≤ 10¹¹ × 2·10⁴ bp scaling < 2⁶³); emitted from
    * the first day the ADX seed is full (delta row 2n−1). Default
    * n = 7 — the corpus' ~27-day series leave ADX undefined at
    * Wilder's 14. One exchange, per-series ordered-array folds,
    * recursive-CTE oracle.
    */
  def adx(events: DataFrame, n: Int = 7): DataFrame =
    adxFromBars(dailyBars(events), n)

  /** [[adx]] over the persisted bar table — the four chained Wilder
    * folds as a zero-exchange series-keyed fold off the bucket layout
    * (the [[rsiFromBars]] lifecycle; shared oracle with the direct
    * form).
    */
  def adxFromBars(bars: DataFrame, n: Int = 7): DataFrame = {
    require(n >= 2, s"ADX window must be >= 2, got $n")
    bars
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(
        col("day"), col("h"), col("l"), col("c")))).as("rows"))
      .filter(expr(s"size(rows) >= ${2 * n}"))
      .withColumn("days", expr("transform(rows, r -> r.day)"))
      // delta rows: index i vs i−1, arrays of size m−1, micro-cents
      .withColumn("pdm", expr(
        "zip_with(slice(rows, 2, size(rows) - 1), slice(rows, 1, size(rows) - 1), " +
          "(t, p) -> CASE WHEN t.h - p.h > p.l - t.l AND t.h - p.h > 0L " +
          "THEN (t.h - p.h) * 1000000L ELSE 0L END)"))
      .withColumn("ndm", expr(
        "zip_with(slice(rows, 2, size(rows) - 1), slice(rows, 1, size(rows) - 1), " +
          "(t, p) -> CASE WHEN p.l - t.l > t.h - p.h AND p.l - t.l > 0L " +
          "THEN (p.l - t.l) * 1000000L ELSE 0L END)"))
      .withColumn("tr", expr(
        "zip_with(slice(rows, 2, size(rows) - 1), slice(rows, 1, size(rows) - 1), " +
          "(t, p) -> greatest(t.h - t.l, abs(t.h - p.c), abs(t.l - p.c)) * 1000000L)"))
      .withColumn("sp", expr(
        divHalfUp(s"aggregate(slice(pdm, 1, $n), 0L, (a, x) -> a + x)", n)))
      .withColumn("sn", expr(
        divHalfUp(s"aggregate(slice(ndm, 1, $n), 0L, (a, x) -> a + x)", n)))
      .withColumn("st", expr(
        divHalfUp(s"aggregate(slice(tr, 1, $n), 0L, (a, x) -> a + x)", n)))
      .withColumn("wp", wilderFold("pdm", "sp", n))
      .withColumn("wn", wilderFold("ndm", "sn", n))
      .withColumn("wt", wilderFold("tr", "st", n))
      // DI± in bp off the smoothed micro-cent folds (wt > 0: a bar
      // with h = l = prev c would zero TR, but then DM is zero too —
      // guard anyway with the flat convention 0)
      .withColumn("dip", expr(
        "zip_with(wp, wt, (p, t) -> CASE WHEN t = 0L THEN 0L " +
          "ELSE (2 * p * 10000 + t) div (2 * t) END)"))
      .withColumn("dim", expr(
        "zip_with(wn, wt, (p, t) -> CASE WHEN t = 0L THEN 0L " +
          "ELSE (2 * p * 10000 + t) div (2 * t) END)"))
      .withColumn("dx", expr(
        "zip_with(dip, dim, (a, b) -> CASE WHEN a + b = 0L THEN 0L " +
          "ELSE (2 * abs(a - b) * 10000 + (a + b)) div (2 * (a + b)) END)"))
      // ADX: Wilder fold over DX in MICRO-bp
      .withColumn("dxu", expr("transform(dx, x -> x * 1000000L)"))
      .withColumn("sa", expr(
        divHalfUp(s"aggregate(slice(dxu, 1, $n), 0L, (a, x) -> a + x)", n)))
      .withColumn("wa", wilderFold("dxu", "sa", n))
      // day alignment (1-based): delta row j carries day days[j+1];
      // dip/dim (length L = D−n+1) index k ↔ delta row n+k−1; the ADX
      // fold (length L−n+1) index k ↔ delta row 2n+k−2 ↔ day days[2n+k−1]
      .withColumn("adays", expr(s"slice(days, ${2 * n}, size(days) - ${2 * n - 1})"))
      .withColumn("adip", expr(s"slice(dip, $n, size(dip) - ${n - 1})"))
      .withColumn("adim", expr(s"slice(dim, $n, size(dim) - ${n - 1})"))
      .select(col("user_id"), posexplode(arrays_zip(
        col("adays"), col("adip"), col("adim"), col("wa"))))
      .select(col("user_id"), col("col.adays").as("day"),
        col("col.adip").as("di_plus_bp"),
        col("col.adim").as("di_minus_bp"),
        expr("(2 * col.wa + 1000000) div 2000000").as("adx_bp"))
      .orderBy("user_id", "day")
  }
}
