package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark has no built-in physical operator
  * for, expressed as shuffle-minimal compositions of built-ins (the
  * preferred extension path: no custom plan node needed, Catalyst and
  * AQE still see through the whole thing).
  */
object Temporal {

  /** AS-OF join: for each left event, the most recent right event of
    * the same key at-or-before its timestamp — the time-series "state
    * at time t" lookup (last quote before a trade, last conversion
    * before a click).
    *
    * Plan shape: union both sides tagged, ONE hash shuffle on the
    * key, then `last(..., ignoreNulls)` over a (ts, side)-ordered
    * running window carries each right row forward to the left rows
    * it answers. No range-condition join (which Spark would plan as
    * a broadcast-nested-loop or a cartesian with post-filter — both
    * explode at scale), no per-key collect. Right rows sort before
    * left rows at equal ts (side 0 < 1), making the match inclusive.
    * Skewed keys shard like any window: by construction state per
    * key is one pass, and a hot key can be salted by time-bucketing
    * the partition key if ever needed.
    *
    * Here: for each `click` event, the user's most recent `purchase`
    * at-or-before it. The right side is first collapsed to one row
    * per (user, ts) — max event_id / value — so the as-of winner is
    * unique and the result is deterministic under ties.
    */
  /** The shared as-of core: one row per click with the carried-forward
    * latest purchase columns, unformatted.
    */
  private def asofCore(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("p_event_id"), max(col("value")).as("p_value"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val right = purchases.select(
      col("user_id"), col("ts"), lit(0).as("side"),
      col("p_event_id"), col("ts").as("p_ts"), col("p_value"),
      lit(null).cast("long").as("event_id"))
    val left = clicks.select(
      col("user_id"), col("ts"), lit(1).as("side"),
      lit(null).cast("long").as("p_event_id"),
      lit(null).cast("timestamp").as("p_ts"),
      lit(null).cast("double").as("p_value"),
      col("event_id"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    right.unionByName(left)
      .withColumn("purchase_event_id", last(col("p_event_id"), ignoreNulls = true).over(w))
      .withColumn("purchase_ts", last(col("p_ts"), ignoreNulls = true).over(w))
      .withColumn("purchase_value", last(col("p_value"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
  }

  def asofJoin(events: DataFrame): DataFrame =
    asofCore(events)
      .select(
        col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        col("purchase_event_id"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        round(col("purchase_value"), 2).as("purchase_value"))
      .orderBy("event_id")

  /** As-of join with a STALENESS TOLERANCE: a match older than
    * `toleranceHours` before the click is nulled out rather than
    * carried — the market-data rule that a quote too stale to price
    * against is no quote at all. Same single-shuffle plan as
    * [[asofJoin]]; the tolerance is a post-window row predicate, so
    * it costs nothing extra.
    */
  def asofJoinTolerance(events: DataFrame, toleranceHours: Int): DataFrame = {
    val fresh = col("purchase_ts").isNotNull &&
      col("purchase_ts") >= col("ts") - expr(s"INTERVAL $toleranceHours HOURS")
    asofCore(events)
      .select(
        col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        when(fresh, col("purchase_event_id")).as("purchase_event_id"),
        when(fresh, date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss")).as("purchase_ts"),
        when(fresh, round(col("purchase_value"), 2)).as("purchase_value"))
      .orderBy("event_id")
  }

  /** RANGE aggregation over a following time window: for every order,
    * the customer's order count and spend over the next `days` days
    * (inclusive start, exclusive end).
    *
    * A SELF range join needs no join at all: a range window frame
    * (`rangeBetween(0, days-1)` over integer days) aggregates exactly
    * the same-key rows whose date falls in [d, d+days) — one shuffle
    * + one sort per key, zero candidate-pair materialization. The
    * first (joined) implementation of this operator benched 7× slower
    * at sf0.1: even a well-bucketed join re-discovers neighbors row
    * by row, while the sorted frame just slides.
    */
  def rangeJoinOrders(orders: DataFrame, days: Int): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(datediff(col("o_orderdate"), to_date(lit("1970-01-01"))))
      .rangeBetween(0, days - 1)
    orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(12,2)").as("p"))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("window_total", round(sum(col("p")).over(w), 2).cast("double"))
      .select(col("o_orderkey"), col("n_window"), col("window_total"))
      .orderBy("o_orderkey")
  }

  /** General RANGE join between two DIFFERENT tables (interval side ×
    * point side), where a window frame can't express the combination:
    * the interval side explodes into exactly TWO window-sized epoch
    * buckets (⌊epochDay/days⌋ and its successor — the two buckets a
    * d-day window can touch), the point side buckets by its own
    * ⌊epochDay/days⌋, and the range predicate becomes an EQUI-join on
    * (key, bucket) plus a residual filter. One hash shuffle, candidate
    * fan-out bounded at ~2× the true pairs (bucket grain = window
    * size) — never the all-pairs-per-key blowup a raw `ts BETWEEN`
    * join plans as (broadcast-nested-loop). Each true pair is found
    * exactly once (the point side has exactly one bucket), so
    * downstream aggregates need no dedup.
    *
    * Expects `intervals(key, a_key, a_date)` and
    * `points(key, b_date, b_val)`; emits one row per joined pair.
    */
  /** Symmetric interval-OVERLAP join — both sides are INTERVALS (the
    * [[rangeJoinPairs]] contract covers interval × point; this covers
    * session × campaign, outage × deploy — any two windows that must
    * intersect). Same coarse-bucket rewrite: both sides explode into
    * the day buckets their interval covers (bounded: ⌈span/1d⌉+1
    * rows per interval), equi-join on (key, bucket), residual
    * half-open overlap predicate `a_start < b_end ∧ b_start < a_end`.
    * A pair straddling several shared buckets matches more than once,
    * so the pair set dedupes on (a_key, b_key) — the one extra
    * distinct the point-side form doesn't need. Emits overlap_secs
    * (integer epoch arithmetic, engine-exact).
    *
    * Expects `a(key, a_key, a_start, a_end)` and
    * `b(key, b_key, b_start, b_end)`, half-open intervals.
    */
  /** `bucketUnit` (day/week/month — any `date_trunc` unit) is the
    * fan-out knob: an interval explodes into ⌈span/bucketUnit⌉+1 rows
    * BEFORE the join, so the default day grain is right for spans of
    * hours-to-days (sessions, incidents) but a months-long interval
    * (a campaign, a quarter-wide outage window) fans out to hundreds
    * of rows per input — pick the unit so typical spans cover a
    * handful of buckets. Coarser buckets trade explode rows for
    * residual-filter selectivity; the result is identical either way.
    */
  def intervalJoin(a: DataFrame, b: DataFrame,
                   bucketUnit: String = "day"): DataFrame = {
    val step = expr(s"INTERVAL 1 ${bucketUnit.toUpperCase}")
    def bucketize(df: DataFrame, s: String, e: String) =
      df.withColumn("bucket", explode(sequence(
        date_trunc(bucketUnit, col(s)), date_trunc(bucketUnit, col(e)), step)))
    bucketize(a, "a_start", "a_end")
      .join(bucketize(b, "b_start", "b_end"), Seq("key", "bucket"))
      .filter(col("a_start") < col("b_end") && col("b_start") < col("a_end"))
      .select(col("key"), col("a_key"), col("b_key"),
        expr("(unix_micros(least(a_end, b_end)) - unix_micros(greatest(a_start, b_start))) div 1000000")
          .as("overlap_secs"))
      .distinct()
      .orderBy("a_key", "b_key")
  }

  /** SCD type-2 dimension BUILD — the other half of [[scd2Join]]:
    * turn a raw change log into versioned validity intervals. Each
    * user's events ordered by (ts, event_id) are run-length collapsed
    * (consecutive equal attributes merge into one version), versions
    * get `[valid_from, valid_to)` bounds via lead(), and the current
    * version carries a NULL valid_to. One user-partitioned window
    * pass + one grouped collapse — no self-joins, no global sort;
    * this is the ingest step whose output [[scd2Join]] probes.
    */
  def scd2Build(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val runs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("changed",
        when(lag(col("event_type"), 1).over(byUser).isNull ||
          lag(col("event_type"), 1).over(byUser) =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("version", sum(col("changed")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "version")
      .agg(first(col("event_type")).as("attr"), min(col("ts")).as("from_ts"))
    val byVer = Window.partitionBy("user_id").orderBy("version")
    runs
      .withColumn("to_ts", lead(col("from_ts"), 1).over(byVer))
      .select(col("user_id"), col("version").cast("long").as("version"),
        col("attr"),
        date_format(col("from_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("to_ts"), "yyyy-MM-dd HH:mm:ss").as("valid_to"))
      .orderBy("user_id", "version")
  }

  /** Point-in-time (SCD type-2) dimension join — the warehouse
    * staple the as-of join can't express when the dimension carries
    * EXPLICIT validity intervals: each fact row joins the dimension
    * version whose `[valid_from, valid_to)` window contains the fact
    * timestamp, so historical facts read historical attributes (no
    * time-travel leakage of today's dimension into yesterday's
    * report).
    *
    * Plan shape: an EQUI-join on the dimension key with the validity
    * window as a residual filter — never a range-only join (which
    * Spark would plan as a nested loop). The per-key fan-out before
    * the filter is the key's version count, small by SCD nature
    * (versions accrue per real-world change), so the join carries
    * ≈ |facts| × avg-versions rows. Dim side broadcasts when small;
    * at warehouse scale both sides hash-partition on the key.
    *
    * Contract: `dim` carries `dim_key`, `valid_from`, `valid_to`
    * (half-open) + attribute columns; intervals per key should not
    * overlap (overlaps produce one row per covering version).
    */
  def scd2Join(facts: DataFrame, dim: DataFrame, key: String, ts: String): DataFrame =
    facts.join(dim,
      facts(key) === dim("dim_key") &&
        facts(ts) >= dim("valid_from") && facts(ts) < dim("valid_to"))

  /** LINEAR multi-touch attribution — the credit-assignment step after
    * [[rangeJoinPairs]]'s click→purchase pairing: each purchase's value
    * splits EQUALLY across every click in its preceding `days` window,
    * and a click's attributed revenue sums its shares over all the
    * purchases it influenced. (The single-pair form, `range_join_2t`,
    * is first/any-touch; marketing attribution wants the split.)
    *
    * Exactness: the split is integer arithmetic in 10⁻⁴ value units —
    * `units div n` per click with the REMAINDER assigned to the
    * earliest click (ties by id), so per-purchase shares sum to the
    * purchase value exactly (mass conservation, spec-asserted) and no
    * engine's rounding mode is involved. Truncating `div`/`%` match
    * DuckDB's floor `//` only for non-negative operands, so both
    * factors ride on |units| with the sign reapplied (the
    * [[Rollups]] signed-average lesson).
    *
    * Scale shape: the bucketed range join's one hash shuffle, then two
    * windows over the PAIRS table partitioned by purchase id (pairs ≪
    * raw events — bounded by clicks-per-window), then one map-side-
    * combinable aggregate to per-click rows.
    */
  def attributionLinear(clicks: DataFrame, purchases: DataFrame, days: Int): DataFrame = {
    val perPurchase = Window.partitionBy("b_key")
    val order = Window.partitionBy("b_key").orderBy("a_date", "a_key")
    rangeJoinPairs(clicks, purchases, days)
      .withColumn("units", (col("b_val") * 10000).cast("long"))
      .withColumn("n_clicks", count(lit(1)).over(perPurchase))
      .withColumn("rk", row_number().over(order))
      .withColumn("share_units", expr(
        "if(units < 0, -1L, 1L) * (abs(units) div n_clicks) + " +
          "if(rk = 1, if(units < 0, -1L, 1L) * (abs(units) % n_clicks), 0L)"))
      .groupBy(col("a_key").as("click_id"))
      .agg(
        count(lit(1)).as("n_purchases"),
        (sum("share_units").cast("double") / 10000).as("attributed"))
      .orderBy("click_id")
  }

  /** LAST-TOUCH attribution over the same click/purchase framing as
    * [[attributionLinear]]: each purchase's value goes entirely to
    * the LATEST click within the window (max (a_date, a_key) per
    * purchase, decided inside one max_by aggregate over the pair
    * table — no per-purchase window sort). Linear answers "how did
    * the journey share credit"; last-touch answers the performance-
    * marketing default "what closed it". Same window-matched bucket
    * join, exact decimal cents.
    */
  def attributionLastTouch(clicks: DataFrame, purchases: DataFrame,
                           days: Int): DataFrame = {
    // PACKED-DECIMAL arg-max (Finance.packedKey): pk = micros·10¹² +
    // a_key, its max's floor remainder = the latest click with the
    // a_key tie-break — the same lexicographic order the old
    // padded-string max_by key encoded, clicks before 1970 included, but
    // a decimal(38,0) buffer keeps the pair aggregate in codegen'd
    // HashAggregate where the string-keyed max_by buffer forced
    // SortAggregate. An a_key outside [0, 10¹²) fails by name.
    val packed = Finance.packedKey(unix_micros(col("a_date")), col("a_key"), "a_key")
    rangeJoinPairs(clicks, purchases, days)
      .groupBy(col("b_key"))
      .agg(Finance.unpackKey(max(packed)).as("click_id"),
        first(col("b_val")).as("b_val"))
      .groupBy("click_id")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("b_val")), 2).cast("double").as("attributed"))
      .orderBy("click_id")
  }

  /** TIME-DECAY attribution — the third of the family: recent clicks
    * earn exponentially more credit, with POWER-OF-TWO day weights
    * (w = 2^(days−1−age)) so every share stays exact integer
    * arithmetic — no float exp(), no drift. Each purchase's value in
    * 10⁻⁴ units splits as units·w ÷ Σw per click (integer division),
    * and the division remainder goes to the LATEST click (the
    * highest-weight owner), so the per-purchase total reconciles to
    * the cent. All three passes are windows over ONE b_key
    * partitioning of the window-matched pair join.
    */
  def attributionTimeDecay(clicks: DataFrame, purchases: DataFrame,
                           days: Int): DataFrame = {
    val perPurchase = Window.partitionBy("b_key")
    val latestFirst = Window.partitionBy("b_key")
      .orderBy(col("a_date").desc, col("a_key").desc)
    rangeJoinPairs(clicks, purchases, days)
      .withColumn("units", (col("b_val") * 10000).cast("long"))
      .withColumn("age_days", expr(
        "(unix_micros(b_date) - unix_micros(a_date)) div 86400000000"))
      .withColumn("w", expr(s"CAST(1 AS BIGINT) << (${days - 1} - CAST(age_days AS INT))"))
      .withColumn("total_w", sum(col("w")).over(perPurchase))
      .withColumn("share", expr(
        "if(units < 0, -1L, 1L) * ((abs(units) * w) div total_w)"))
      .withColumn("given", sum(col("share")).over(perPurchase))
      .withColumn("rk", row_number().over(latestFirst))
      .withColumn("share_units",
        col("share") + when(col("rk") === 1, col("units") - col("given"))
          .otherwise(lit(0L)))
      .groupBy(col("a_key").as("click_id"))
      .agg(count(lit(1)).as("n_purchases"),
        (sum("share_units").cast("double") / 10000).as("attributed"))
      .orderBy("click_id")
  }

  def rangeJoinPairs(intervals: DataFrame, points: DataFrame, days: Int): DataFrame = {
    // Bucket grain MATCHED to the window: epoch-day `div days` buckets,
    // not calendar months. An interval [a, a+days) spans calendar days
    // D..D+days inclusive (the end can spill one day past D+days-1 when
    // a_date has a time-of-day), i.e. exactly the two epoch buckets
    // ⌊D/days⌋ and ⌊D/days⌋+1 — so the interval side explodes to a
    // CONSTANT 2 rows and candidate fan-out is bounded at ~2× the true
    // pairs regardless of window size. The month-grain first cut of
    // this operator measured 4.8× excess candidates on a 7-day window
    // (a month bucket holds 4+ windows' worth of points); this form is
    // the same single hash shuffle with the fan-out window-matched.
    // floor() (not `div`) so pre-1970 dates bucket consistently on
    // both sides (`div` truncates toward zero and would split bucket
    // -0/+0 across the epoch boundary).
    def epochBucket(c: String) =
      floor(datediff(to_date(col(c)), to_date(lit("1970-01-01"))).cast("double") / days)
    val a = intervals
      .withColumn("bucket", explode(sequence(
        epochBucket("a_date"), epochBucket("a_date") + 1)))
    val b = points.withColumn("bucket", epochBucket("b_date"))
    a.join(b, Seq("key", "bucket"))
      .filter(col("b_date") >= col("a_date") &&
        col("b_date") < col("a_date") + expr(s"INTERVAL $days DAYS"))
      .drop("bucket")
  }
}
