package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The analytical core: multi-aggregate scans, star joins, windowed
  * analytics. These are the engine primitives every reference pipeline
  * bottoms out in (rollups = grouped multi-agg; report pages = sorted
  * windows; dashboard joins = star joins).
  *
  * Scale notes: dimension tables are broadcast (`broadcast()`), fact-
  * fact joins shuffle on their join key only after filters have been
  * pushed below the join by Catalyst. Every aggregate here is partial-
  * aggregated map-side.
  */
object Analytics {

  /** TPC-H Q1-shaped pricing summary: one scan, grouped multi-agg.
    * The grouping key cardinality is tiny, so the shuffle after the
    * map-side partial agg is a few rows per partition regardless of
    * input scale.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame = {
    // All money/rate columns are exact 2-decimal values → decimal
    // arithmetic keeps every sum exact and order-independent (double
    // sums depend on partition merge order). Narrow casts keep the
    // product precisions within decimal(38): price(12,2) × rate(4,2)
    // × rate(4,2) = (22,6); sum = (32,6).
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val disc = col("l_discount").cast("decimal(4,2)")
    val tax = col("l_tax").cast("decimal(4,2)")
    val one = lit(1).cast("decimal(4,2)")
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        // quantities are integral → double sums are already exact
        sum("l_quantity").as("sum_qty_d"),
        sum(price).as("sum_price_d"),
        sum(price * (one - disc).cast("decimal(4,2)")).as("sum_disc_price_d"),
        sum(price * (one - disc).cast("decimal(4,2)") * (one + tax).cast("decimal(4,2)"))
          .as("sum_charge_d"),
        sum(disc).as("sum_disc_d"),
        count(lit(1)).as("cnt"))
      // 4dp averages in exact integer math (cents-based), same rule as
      // Rollups.multiMetric/grain — sum/count of 2-decimal money hits
      // exact 5th-decimal halves where Spark (HALF_UP) and DuckDB
      // (half-even) double rounds diverge
      // cents sums as decimal(38,0), not long — a long wraps silently
      // (non-ANSI) once a group's price sum passes ~4.6e14, well inside
      // the 100 TB design range; same rule as Rollups.grain
      .withColumn("qty_l", col("sum_qty_d").cast("decimal(38,0)"))
      .withColumn("cents_p", (col("sum_price_d") * 100).cast("decimal(38,0)"))
      .withColumn("cents_d", (col("sum_disc_d") * 100).cast("decimal(38,0)"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        round(col("sum_qty_d"), 2).as("sum_qty"),
        round(col("sum_price_d"), 2).cast("double").as("sum_base_price"),
        round(col("sum_disc_price_d"), 2).cast("double").as("sum_disc_price"),
        round(col("sum_charge_d"), 2).cast("double").as("sum_charge"),
        (expr("(qty_l * 20000 + cnt) div (cnt * 2)").cast("double") / 10000).as("avg_qty"),
        (expr("(cents_p * 200 + cnt) div (cnt * 2)").cast("double") / 10000).as("avg_price"),
        (expr("(cents_d * 200 + cnt) div (cnt * 2)").cast("double") / 10000).as("avg_disc"),
        col("cnt").as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3-shaped top unshipped revenue: customer ⋈ orders ⋈
    * lineitem with selective filters pushed below the joins. customer
    * is dim-sized → broadcast; orders⋈lineitem shuffles on orderkey.
    */
  def topRevenue(customer: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val cut = lit("1996-03-15").cast("timestamp")
    broadcast(customer.filter(col("c_mktsegment") === "BUILDING"))
      .join(orders.filter(col("o_orderdate") < cut), col("c_custkey") === col("o_custkey"))
      .join(lineitem.filter(col("l_shipdate") > cut), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")).cast("decimal(4,2)")), 2)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped local-supplier volume: 6-way star join filtered to
    * one region and one year. region/nation/supplier/customer broadcast;
    * the only big shuffle is orders⋈lineitem on orderkey.
    */
  def regionRevenue(region: DataFrame, nation: DataFrame, customer: DataFrame,
                    supplier: DataFrame, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val dims = broadcast(
      region.filter(col("r_name") === "ASIA")
        .join(nation, col("n_regionkey") === col("r_regionkey"))
        .join(supplier, col("s_nationkey") === col("n_nationkey")))
    lineitem
      .join(orders.filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
        col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")).cast("decimal(4,2)")), 2)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Top-N-per-group via a row_number window (reference: the "top
    * reports per page" pattern). Partitioned window → shuffles once on
    * the partition key, never collects to the driver.
    */
  def topOrdersPerCustomer(orders: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("total"), col("rn"))
      .orderBy("o_custkey", "rn")
  }

  /** Weekly retention cohorts — the activation/retention readout:
    * users grouped by the week of their FIRST event; for each
    * (cohort, weeks-since) the distinct active users and the
    * retention ratio. All aggregations key on user_id or the (tiny)
    * cohort table; the per-user distinct-week projection is the only
    * pass over raw events. Ratio at 4dp via the integer HALF_UP
    * identity (cohort sizes are routinely powers of two).
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val firsts = events.groupBy("user_id")
      .agg(date_trunc("week", min("ts")).as("cohort"))
    val active = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk")).distinct()
    val sizes = firsts.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    active.join(firsts, "user_id")
      .withColumn("offset_weeks", expr("datediff(wk, cohort) div 7").cast("long"))
      .groupBy("cohort", "offset_weeks")
      .agg(countDistinct("user_id").as("active_users"))
      .join(sizes, "cohort")
      .select(
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        col("offset_weeks"), col("active_users"), col("cohort_size"),
        (expr("(active_users * 20000 + cohort_size) div (2 * cohort_size)")
          .cast("double") / 10000).as("retention"))
      .orderBy("cohort_week", "offset_weeks")
  }

  /** Funnel conversion — ordered event-pattern detection (did the
    * first `toType` event happen AFTER the user's first `fromType`,
    * and within the window): the click→purchase conversion readout of
    * every event-analytics surface. Two per-user min aggregations +
    * one join, all keyed on user_id, so the exchanges share one
    * partitioning. Time delta in whole seconds via truncating integer
    * division on unix micros — identical on engines that truncate
    * positive division the same way.
    */
  def funnel(events: DataFrame, fromType: String = "click",
             toType: String = "purchase", withinDays: Int = 3): DataFrame = {
    val first = events.filter(col("event_type") === fromType)
      .groupBy("user_id").agg(min("ts").as("t1"))
    val next = events.filter(col("event_type") === toType)
      .join(first, "user_id").filter(col("ts") >= col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    first.join(next, Seq("user_id"), "left")
      .select(col("user_id"),
        col("t2").isNotNull.as("purchased"),
        (col("t2").isNotNull &&
          col("t2") < col("t1") + expr(s"INTERVAL $withinDays DAYS")).as("converted"),
        when(col("t2").isNotNull,
          expr("(unix_micros(t2) - unix_micros(t1)) div 1000000")).as("secs_to_purchase"))
      .orderBy("user_id")
  }

  /** [[eventTransitions]] normalized to per-source probabilities in
    * integer basis points — the actual Markov MATRIX (rows sum to
    * ~10⁴ up to truncation): `prob_bp = (10⁴·n) div Σ_from n`. The
    * normalizing window runs over the T×T transition table, not the
    * corpus — constant-size at any scale.
    */
  def transitionProbs(events: DataFrame): DataFrame = {
    val byFrom = Window.partitionBy("from_type")
    eventTransitions(events)
      .withColumn("from_total", sum("n_transitions").over(byFrom))
      .withColumn("prob_bp", expr("(10000 * n_transitions) div from_total"))
      .select(col("from_type"), col("to_type"), col("n_transitions"), col("prob_bp"))
      .orderBy("from_type", "to_type")
  }

  /** Multi-step ORDERED funnel — [[funnel]]'s 2-step conversion
    * generalized to an arbitrary step sequence: a user reaches step k
    * iff a step-k event STRICTLY follows their step-(k−1) time (first
    * qualifying occurrence; strict ordering so one timestamp can't
    * satisfy two steps). Output: one row per step with the surviving
    * user count — the drop-off table every product funnel reads.
    *
    * Scale shape: one filtered pass + one (user) aggregate per step —
    * each pass scans only its step's events (type predicate pushed to
    * the scan; a type-partitioned events table turns it into a
    * partition read), joined to the shrinking survivor frame on the
    * user key. The per-step count reduces are one-row.
    */
  def funnelSteps(events: DataFrame,
                  steps: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val first = events.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min("ts").as("t"))
    val survivors = steps.tail.scanLeft(steps.head -> first) {
      case ((_, prev), st) =>
        st -> events.filter(col("event_type") === st)
          .join(prev.select("user_id", "t"), "user_id")
          .filter(col("ts") > col("t"))
          .groupBy("user_id").agg(min("ts").as("t"))
    }
    survivors.zipWithIndex.map { case ((name, df), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(name).as("step_name"), col("n_users"))
    }.reduce(_ unionByName _).orderBy("step")
  }

  /** Sketch-aggregate cardinality: HyperLogLog++ approximate distinct
    * next to the exact count. Exact distinct is a full shuffle of
    * every key occurrence; the HLL sketch is kilobytes per partition
    * merged in the reduce — the only viable per-refresh cardinality
    * at corpus scale, which is why it ships alongside the exact
    * operators (the exact column here exists to measure the sketch's
    * error, and is what you DON'T run at 100 TB). Spec-pinned, not
    * oracle-checked: HLL implementations differ across engines by
    * design.
    */
  def cardinalityReport(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events.agg(
      countDistinct("user_id").as("exact_users"),
      approx_count_distinct("user_id", rsd).as("approx_users"))

  /** Quantile sketch (Greenwald-Khanna): approximate p50/p90/p99 of
    * the order value distribution in one pass with bounded memory —
    * the scale companion to [[cardinalityReport]] (an exact global
    * percentile needs a full sort; the rank-based exact median
    * [[medianByEntity]] stays viable only because it is per-entity).
    * Spec-pinned against the exact quantiles; not oracle-checked —
    * sketch outputs are implementation-defined.
    */
  def quantileSketch(orders: DataFrame, accuracy: Int = 10000): DataFrame =
    orders.agg(
      count(lit(1)).as("n"),
      percentile_approx(col("o_totalprice"), lit(0.5), lit(accuracy)).as("p50"),
      percentile_approx(col("o_totalprice"), lit(0.9), lit(accuracy)).as("p90"),
      percentile_approx(col("o_totalprice"), lit(0.99), lit(accuracy)).as("p99"))

  /** Oracle-gated form of [[cardinalityReport]]: only the
    * DETERMINISTIC columns are emitted — the exact distinct count
    * (checkable in any engine) and a boolean asserting the sketch
    * landed within 3× its declared rsd (the bound the spec pins). The
    * raw HLL estimate stays out of the output because sketch values
    * are implementation-defined across engines; the bound BOOLEAN is
    * the cross-engine-checkable fact about it.
    */
  def cardinalityGate(events: DataFrame, rsd: Double = 0.02): DataFrame =
    cardinalityReport(events, rsd).select(
      col("exact_users"),
      (abs(col("approx_users") - col("exact_users")) <=
        lit(3 * rsd) * col("exact_users")).as("within_bound"))

  /** Persist per-(day, event_type) HLL SKETCHES (Apache DataSketches
    * via Spark's `hll_sketch_agg`) — the RE-AGGREGATABLE distinct
    * index, and the reason sketches beat exact counts at 100 TB
    * beyond the one-pass saving: a persisted exact daily distinct
    * CANNOT roll up (distincts don't add across days — the same user
    * appears in many), so every ad-hoc grain change re-scans raw
    * events; persisted sketches merge losslessly along ANY axis
    * (days → months, types → total) with kilobytes of I/O. This is
    * the ingest half; [[cardinalityFromSketches]] is the probe. One
    * raw scan per daily close, every later cardinality question is a
    * sketch-table merge.
    *
    * lgK 14 → 16 KiB per sketch, relative error ≈ 1.04/√2¹⁴ ≈ 0.8%;
    * the union of same-lgK sketches carries the same bound.
    */
  def writeUserSketchRollup(events: DataFrame, table: String, lgK: Int = 14): Unit =
    events.groupBy(
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(expr(s"hll_sketch_agg(user_id, $lgK)").as("sketch"))
      .coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(table)

  /** Persisted VALUE-HISTOGRAM rollup — the re-aggregatable quantile
    * partial, the [[writeUserSketchRollup]] move applied to a holistic
    * aggregate: exact per-month quantiles cannot merge into a yearly
    * quantile (quantiles aren't distributive), but fixed-bin COUNTS
    * are — (month, bin, cnt) partials add along any axis, and the
    * merged histogram localizes any percentile to one `binWidth`-wide
    * bin without rescanning raw data. Bin count is domain/binWidth
    * (bounded, kilobytes); size binWidth so in-bin populations fit
    * the probe's bounded refine (the 100 TB shape: binWidth ≈
    * domain/10⁴).
    */
  def writeValueHistogramRollup(orders: DataFrame, table: String,
                                binWidth: Int = 25000): Unit =
    orders.groupBy(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        floor(col("o_totalprice") / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(table)

  /** EXACT percentiles off the persisted histogram: the merged bins
    * (kilobyte driver collect, the codebook-analog contract) give each
    * target rank's bin and the count below it; ONE bounded refine per
    * percentile (TakeOrdered of the in-bin rank prefix) yields the
    * exact value — no global sort, no raw re-aggregation. The
    * within_bound boolean asserts the refined exact value landed in
    * the histogram-predicted bin — the consistency claim the gate
    * checks (DuckDB recomputes the exact value by rank; its side of
    * the boolean is `true`).
    */
  def quantilesFromHistogram(spark: org.apache.spark.sql.SparkSession,
                             table: String, orders: DataFrame,
                             ps: Seq[Int] = Seq(50, 90, 99),
                             binWidth: Int = 25000): DataFrame = {
    import spark.implicits._
    val hist = spark.table(table).groupBy("bin")
      .agg(sum("cnt").as("cnt")).orderBy("bin")
      .collect().map(r => (r.getAs[Long]("bin"), r.getAs[Long]("cnt")))
    val n = hist.map(_._2).sum
    val rows = ps.map { p =>
      val r = (p.toLong * n + 99) / 100
      var below = 0L
      var bin = hist.head._1
      var found = false
      hist.foreach { case (b, c) =>
        if (!found) {
          if (below + c >= r) { bin = b; found = true } else below += c
        }
      }
      val exact = orders
        .filter(floor(col("o_totalprice") / binWidth).cast("long") === bin)
        .select(col("o_totalprice"))
        .orderBy("o_totalprice")
        .limit((r - below).toInt)
        .agg(max("o_totalprice")).head().getDouble(0)
      val inBin = exact >= bin * binWidth.toLong && exact < (bin + 1) * binWidth.toLong
      (p.toLong, n, BigDecimal(exact).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, inBin)
    }
    rows.toDF("p", "n", "exact_value", "within_bound").orderBy("p")
  }

  /** Distinct users per group off the PERSISTED day sketches — a
    * kilobyte merge (`hll_union_agg` + estimate), never a raw-event
    * scan. `groupCols` picks the roll-up axis: `Seq("event_type")`
    * collapses days per type, `Nil` gives the global total,
    * month-prefix expressions re-grain time — all from the same
    * table, which is the re-aggregation property the index exists
    * for.
    */
  def cardinalityFromSketches(spark: org.apache.spark.sql.SparkSession,
                              table: String,
                              groupCols: Seq[String] = Seq("event_type")): DataFrame = {
    val t = spark.table(table)
    val merged = expr("hll_sketch_estimate(hll_union_agg(sketch))").as("approx_users")
    if (groupCols.isEmpty) t.agg(merged)
    else t.groupBy(groupCols.map(col): _*).agg(merged)
  }

  /** Oracle-gated form of [[quantileSketch]]: EXACT rank-based
    * quantiles (value at rank ⌈p·n⌉ — an integer rank rule identical
    * in any engine, where interpolated quantiles drift in the last
    * ulp) plus booleans asserting the GK sketch landed within its
    * rank-error bound. The exact values come from SKETCH-PRUNED
    * selection, not a global sort: the sketch estimates a value window
    * [lo, hi] = [est(p−ε′), est(p+ε′)] guaranteed by the GK rank bound
    * to contain the target rank; one aggregate then counts rows below
    * the window and collects only the ~O(ε′·n) in-window values, whose
    * sorted list yields the exact value at in-window rank (r − below).
    * Exact global quantiles in two scans + one bounded aggregate, no
    * total order anywhere. The refine-set size is ~8n/accuracy, so at
    * larger n grow `accuracy` with n (the 100 TB shape is
    * accuracy ≈ n/10⁵, a ~10⁵-value refine set).
    *
    * The in-bound booleans compare the estimate's exact rank interval
    * [count(<est)+1, count(≤est)] against the target rank at 2× the
    * GK guarantee (absorbing the engine's internal target-rank
    * convention); with accuracy 10⁴ at gate SF that is still a
    * ±4-rank assertion. The driver reads (the pivot row, which
    * carries n inline, plus a re-widened pivot only when the 2/n
    * floor is active) are bounded scalar collects — the
    * broadcast-analog the IVF codebooks use.
    */
  def quantileSketchGate(orders: DataFrame, accuracy: Int = 10000): DataFrame = {
    val v = col("o_totalprice")
    val ps = Seq(("p50", 0.5, 1L, 2L), ("p90", 0.9, 9L, 10L), ("p99", 0.99, 99L, 100L))
    // window half-width: 3× the GK error, floored at 2/n so the hi
    // pivot's rank provably clears ⌈p·n⌉ even when n < accuracy
    def pivotAggs(eps: Double) = ps.flatMap { case (nm, p, _, _) =>
      Seq(
        percentile_approx(v, lit(p), lit(accuracy)).as(s"${nm}_est"),
        percentile_approx(v, lit(math.max(0.0, p - eps)), lit(accuracy)).as(s"${nm}_lo"),
        percentile_approx(v, lit(math.min(1.0, p + eps)), lit(accuracy)).as(s"${nm}_hi"))
    }
    // n rides the percentile aggregate — no dedicated count scan on
    // the at-scale path; only a corpus smaller than 2·accuracy/3
    // rows (where the 2/n floor widens the window beyond 3/accuracy)
    // pays a second, re-widened pivot scan
    val eps0 = 3.0 / accuracy
    val firstAggs = count(lit(1)).as("n") +: pivotAggs(eps0)
    val first = orders.agg(firstAggs.head, firstAggs.tail: _*).head()
    val n = first.getAs[Long]("n")
    val eps = math.max(eps0, if (n > 0) 2.0 / n else 1.0)
    val piv = if (eps > eps0) {
      val wide = pivotAggs(eps)
      orders.agg(wide.head, wide.tail: _*).head()
    } else first
    val countAggs = count(lit(1)).as("n") +: ps.flatMap { case (nm, _, _, _) =>
      val est = lit(piv.getAs[Double](s"${nm}_est"))
      val lo = lit(piv.getAs[Double](s"${nm}_lo"))
      val hi = lit(piv.getAs[Double](s"${nm}_hi"))
      Seq(
        count(when(v < lo, 1)).as(s"${nm}_below"),
        sort_array(collect_list(when(v >= lo && v <= hi, v))).as(s"${nm}_cand"),
        count(when(v < est, 1)).as(s"${nm}_lt"),
        count(when(v <= est, 1)).as(s"${nm}_le"))
    }
    val agg = orders.agg(countAggs.head, countAggs.tail: _*)
    val outCols = col("n") +: ps.flatMap { case (nm, _, num, den) =>
      // r = ⌈p·n⌉ in pure integer arithmetic — double p·n rounds
      // differently across engines (0.99 is not a binary fraction)
      val r = expr(s"(n * $num + $den - 1) div $den")
      val m = expr(s"2 * (n div $accuracy) + 2")
      Seq(
        round(try_element_at(col(s"${nm}_cand"),
          (r - col(s"${nm}_below")).cast("int")), 2).as(s"${nm}_exact"),
        (col(s"${nm}_le") >= r - m && col(s"${nm}_lt") < r + m).as(s"${nm}_in_bound"))
    }
    agg.select(outCols: _*)
  }

  /** Per-entity z-score outlier flagging (the anomalous-price /
    * anomalous-order monitor): |value − mean| > `sigmas`·std within
    * the entity. One window shuffle on the entity key, no join back —
    * mean and std ride the same window. The moments derive from EXACT
    * decimal window sums with the same fixed double expression tree as
    * [[Rollups]].grain, so the flagged set is partition-order
    * independent (double-accumulated moments drift in the last ulp
    * and flake rows sitting exactly at the threshold).
    */
  def zscoreOutliers(orders: DataFrame, sigmas: Double = 2.0): DataFrame = {
    val v = col("o_totalprice").cast("decimal(12,2)")
    val base = orders.select(col("o_orderkey"), col("o_custkey").as("entity_id"),
        col("o_totalprice"), v.as("v"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("entity_id")))
      .withColumn("sum_d", sum(col("v")).over(Window.partitionBy("entity_id")))
      .withColumn("sumsq_d", sum(col("v") * col("v")).over(Window.partitionBy("entity_id")))
    val n = col("n")
    val sumD = col("sum_d").cast("double")
    val sumsqD = col("sumsq_d").cast("double")
    val std = sqrt(greatest((sumsqD - sumD * sumD / n) / (n - lit(1)), lit(0.0)))
    base
      .filter(n >= 5 && std > 0)
      .withColumn("z", round((col("o_totalprice") - sumD / n) / std, 4))
      .filter(abs(col("z")) > sigmas)
      .select(col("o_orderkey"), col("entity_id"),
        round(col("o_totalprice"), 2).as("total"), col("z"))
      .orderBy("o_orderkey")
  }

  /** Rolling mean over event time per series (stock-chart smoothing
    * analog). ROWS frame keyed by (ts, event_id) for determinism.
    */
  def movingAvg(events: DataFrame, window: Int): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(window - 1), Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("mavg", round(avg("value").over(w), 4))
      .select("user_id", "event_id", "mavg")
      .orderBy("user_id", "event_id")
  }

  /** Wide reshape: monthly revenue pivoted to one column per region
    * (the dashboard "compare series side-by-side" view). `pivot` with
    * an explicit value list keeps the plan static — one shuffle on the
    * group key, the pivot itself is a map-side conditional aggregate.
    */
  def regionPivot(region: DataFrame, nation: DataFrame, customer: DataFrame,
                  orders: DataFrame): DataFrame = {
    val regions = Seq("africa", "america", "asia", "europe", "middle_east")
    val joined = orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        lower(regexp_replace(col("r_name"), " ", "_")).as("region"),
        col("o_totalprice").cast("decimal(12,2)").as("v"))
    val pivoted = joined.groupBy("month")
      .pivot("region", regions)
      .agg(round(sum("v"), 2).cast("double"))
    regions.foldLeft(pivoted)((d, r) => d.withColumn(r, coalesce(col(r), lit(0.0))))
      .orderBy("month")
  }

  /** Batch sessionization: group events into sessions separated by
    * ≥ `gapSec` of inactivity (batch analog of
    * [[graft.streaming.StreamingRollups.sessionize]]; the reference
    * tracks per-stock visit state in driver Python). Two windows over
    * one (user, ts) sort: lag marks session starts, a running sum of
    * start-flags numbers the sessions — no driver state, one shuffle.
    */
  def sessionize(events: DataFrame, gapSec: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // whole-second epochs (cast truncates) so the gap compare is
    // integer on both engines regardless of sub-second precision
    val newSession = when(
      col("ts").cast("long") - lag(col("ts").cast("long"), 1).over(byUser) > gapSec, 1
    ).otherwise(0)
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("session_id", sum(newSession).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** Per-user RFM (recency / frequency / monetary) profile — the
    * classic customer-segmentation rollup: days since last activity
    * (vs the CORPUS' own max day, a one-row broadcast — no wall-clock
    * dependence, so replays are deterministic), event count, and
    * purchase revenue, scored into fixed integer tiers and a compact
    * "R_F_M_" segment label. Tier thresholds are FIXED integers (not
    * data quantiles) so the assignment is a pure per-row function —
    * engine-exact, and stable as the corpus grows (a user's segment
    * never moves because someone else's data changed).
    *
    * Scale: one groupBy(user) with map-side partials; the as-of date
    * is a one-row reduce broadcast back; monetary rides as exact
    * cents (decimal sum → long), divided once at the end.
    */
  def userRfm(events: DataFrame): DataFrame = {
    val asOf = events.agg(max(to_date(col("ts"))).as("as_of"))
    val per = events.groupBy("user_id").agg(
      max(to_date(col("ts"))).as("last_day"),
      count(lit(1)).as("n_events"),
      sum(when(col("event_type") === "purchase",
        col("value").cast("decimal(18,2)"))).as("monetary_d"))
    val r = when(col("days_since") <= 2, 3L).when(col("days_since") <= 7, 2L).otherwise(1L)
    val f = when(col("n_events") >= 20, 3L).when(col("n_events") >= 10, 2L).otherwise(1L)
    val m = when(col("cents") >= 50000L, 3L).when(col("cents") >= 10000L, 2L)
      .when(col("cents") > 0L, 1L).otherwise(0L)
    per.crossJoin(broadcast(asOf))
      .withColumn("days_since", datediff(col("as_of"), col("last_day")).cast("long"))
      .withColumn("cents", coalesce((col("monetary_d") * 100).cast("long"), lit(0L)))
      .select(col("user_id"), col("days_since"), col("n_events"),
        (col("cents").cast("double") / 100).as("monetary"),
        concat(lit("R"), r, lit("F"), f, lit("M"), m).as("segment"))
      .orderBy("user_id")
  }

  /** Per-user event-type TRANSITION counts — the first-order Markov
    * view of the event stream (what funnels and next-action models
    * consume): each user's events ordered by (ts, event_id) form a
    * path, every adjacent (prev → next) pair is one transition.
    * Output: (from_type, to_type, n_transitions, n_users).
    *
    * Scale shape: one shuffle partitions by user (the same window
    * sort [[sessionize]] and [[movingAvg]] pay — on a real cluster
    * all three share it via a common repartition); the transition
    * aggregate map-side-combines down to a T×T matrix (kilobytes for
    * any realistic event-type vocabulary), and the distinct-user
    * count shuffles (from, to, user) triples already reduced to one
    * row per user per cell. All counts — engine-exact.
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(
        count(lit(1)).as("n_transitions"),
        count_distinct(col("user_id")).as("n_users"))
      .orderBy("from_type", "to_type")
  }

  /** Global top-k: order-by + limit. Spark executes this as a
    * per-partition TakeOrdered + driver merge of k rows — no global
    * sort shuffle.
    */
  /** Skew-safe two-stage ("salted") aggregation: partial-aggregate on
    * (key, salt) first, then finish on the key. The result is
    * IDENTICAL to a plain groupBy (decimal sums are associative), but
    * a hot key's rows spread over `salts` reducers in stage one
    * instead of hammering a single task — the standard fix when one
    * group holds a double-digit percentage of a 100 TB fact table and
    * AQE's skew handling can't split an agg the way it splits a join.
    * The salt derives from a uniform existing column, not rand():
    * deterministic output, and re-runs/retries agg identically.
    */
  def saltedAgg(lineitem: DataFrame, salts: Int = 16): DataFrame = {
    val price = col("l_extendedprice").cast("decimal(12,2)")
    lineitem
      .withColumn("salt", pmod(col("l_orderkey"), lit(salts)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(
        sum(price).as("p_price"),
        sum("l_quantity").as("p_qty"),
        count(lit(1)).as("p_cnt"))
      .groupBy("l_returnflag")
      .agg(
        round(sum(col("p_price")), 2).cast("double").as("sum_price"),
        round(sum(col("p_qty")), 2).as("sum_qty"),
        sum(col("p_cnt")).as("cnt"))
      .orderBy("l_returnflag")
  }

  /** Hot-key SKEW diagnostic — the report you read before reaching for
    * [[saltedAgg]] or AQE skew hints: the k heaviest keys with their
    * share of total rows in integer basis points. One
    * map-side-combined count aggregate, a one-row total broadcast
    * back, TakeOrdered for the top-k — nothing corpus-sized moves.
    */
  def skewReport(events: DataFrame, k: Int = 10): DataFrame = {
    val counts = events.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share_bp", expr("(10000 * cnt) div total"))
      .orderBy(col("cnt").desc, col("user_id")).limit(k)
      .select("user_id", "cnt", "share_bp")
  }

  /** Robust (MAD-based) outlier flags — the heavy-tail-safe twin of
    * [[zscoreOutliers]]: a single anomalous order inflates a z-score's
    * own σ and can mask itself, while the median absolute deviation
    * barely moves. Entirely INTEGER on cents: rank-based lower medians
    * (value, then of absolute deviations) with orderkey tie-breaks,
    * and the flag |x − med| > k·MAD is an integer comparison — no
    * engine ever rounds anything. Three passes, every one keyed by the
    * entity: two sorted windows + two small joins back.
    */
  def madOutliers(orders: DataFrame, k: Int = 3, minN: Long = 5L): DataFrame = {
    val byEntity = Window.partitionBy("entity_id")
    val base = orders.select(
      col("o_custkey").as("entity_id"), col("o_orderkey"), col("o_totalprice"),
      (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    val wVal = byEntity.orderBy(col("cents"), col("o_orderkey"))
    val wDev = byEntity.orderBy(col("dev_c"), col("o_orderkey"))
    // the median (and then the MAD) is ATTACHED in the same
    // entity-partitioned pass that ranks it — max(when(rn = target))
    // over the unordered entity frame picks exactly the lower-median
    // row's value (the rank is unique) — instead of filter + join-back,
    // which re-shuffled base per consumer and needed a checkpoint
    // between the two medians (r17: one exchange + two in-partition
    // sorts, zero joins, zero checkpoints; identical rows out)
    base
      .withColumn("rn", row_number().over(wVal))
      .withColumn("n", count(lit(1)).over(byEntity))
      .withColumn("med_c",
        max(when(col("rn") === expr("(n + 1) div 2"), col("cents"))).over(byEntity))
      .withColumn("dev_c", abs(col("cents") - col("med_c")))
      .withColumn("rn2", row_number().over(wDev))
      .withColumn("mad_c",
        max(when(col("rn2") === expr("(n + 1) div 2"), col("dev_c"))).over(byEntity))
      .filter(col("n") >= minN && col("mad_c") > 0 &&
        col("dev_c") > lit(k.toLong) * col("mad_c"))
      .select(col("o_orderkey"), col("entity_id"),
        round(col("o_totalprice"), 2).as("total"),
        col("dev_c"), col("mad_c"))
      .orderBy("o_orderkey")
  }

  /** Exact per-entity median by RANK, not interpolation: the lower
    * median is the ((n+1) div 2)-th smallest value (ties broken by
    * orderkey, so the picked ROW is unique). Rank-based selection is
    * engine-portable — interpolated medians average two doubles with
    * engine-specific expression trees and diverge in the last ulp —
    * and generalizes to any percentile by changing the rank formula.
    * One shuffle on the entity; both windows share the partitioning.
    */
  def medianByEntity(orders: DataFrame): DataFrame = {
    val byEntity = Window.partitionBy("o_custkey")
    val w = byEntity.orderBy(col("o_totalprice"), col("o_orderkey"))
    orders.select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byEntity))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("o_custkey").as("entity_id"),
        round(col("o_totalprice"), 2).as("median_price"),
        col("n").as("n_orders"))
      .orderBy("entity_id")
  }

  /** [[medianByEntity]] generalized to a percentile VECTOR: the p-th
    * percentile is the value at rank ⌈p·n/100⌉ (nearest-rank
    * convention, integer arithmetic — engine-exact where interpolated
    * percentiles drift), one output row per (entity, p). The same
    * single (entity)-partitioned sort serves every requested
    * percentile: ranks ride once, the small `ps` array explodes per
    * row and the rank filter keeps |ps| rows per entity.
    */
  def percentilesByEntity(orders: DataFrame,
                          ps: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100), "percentiles in [1,100]")
    val byEntity = Window.partitionBy("o_custkey")
    val w = byEntity.orderBy(col("o_totalprice"), col("o_orderkey"))
    orders.select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byEntity))
      .select(col("o_custkey"), col("o_totalprice"), col("rn"), col("n"),
        explode(array(ps.map(p => lit(p)): _*)).as("p"))
      .filter(col("rn") === expr("(p * n + 99) div 100"))
      .select(col("o_custkey").as("entity_id"), col("p").cast("long").as("p"),
        round(col("o_totalprice"), 2).as("value"), col("n").as("n_orders"))
      .orderBy("entity_id", "p")
  }

  def topK(orders: DataFrame, k: Int): DataFrame =
    orders
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("total"))
      .orderBy(col("total").desc, col("o_orderkey"))
      .limit(k)

  /** TPC-H Q4-shaped EXISTS: orders in a quarter that had at least one
    * late shipment (l_shipdate > o_orderdate + `lateDays`), counted per
    * priority. The canonical LEFT SEMI join — the build side dedups
    * per key inside the hash join, so a 7-lineitem order contributes
    * ONE semi match, never a 7× fan-out that a join+distinct would
    * materialize before collapsing. Equi part (orderkey) hashes; the
    * date comparison rides as the join residual. Both sides shuffle on
    * orderkey once; the priority agg is a few-row map-side partial.
    */
  def latePriority(orders: DataFrame, lineitem: DataFrame,
                   lo: String = "1996-01-01", hi: String = "1996-04-01",
                   lateDays: Int = 30): DataFrame = {
    val o = orders.filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
      col("o_orderdate") < lit(hi).cast("timestamp"))
    o.join(lineitem,
        o("o_orderkey") === lineitem("l_orderkey") &&
          lineitem("l_shipdate") > o("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q22-shaped NOT EXISTS: customers with no orders in a year
    * (lapsed accounts), rolled up per nation. The canonical LEFT ANTI
    * join — the probe side streams, the year-filtered order build side
    * carries only o_custkey (filter + column pruning reach the scan),
    * and absence is decided inside the hash join with no null-padded
    * outer rows to re-filter. nation is dim-sized → broadcast; the
    * only shuffle is customer⋈orders on custkey. The window keeps the
    * gate non-vacuous on data where every customer has SOME order.
    */
  def inactiveCustomers(customer: DataFrame, orders: DataFrame,
                        nation: DataFrame,
                        lo: String = "1997-01-01", hi: String = "1998-01-01"): DataFrame =
    customer.join(
        orders.filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
          col("o_orderdate") < lit(hi).cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal").cast("decimal(18,2)")), 2).cast("double")
          .as("total_acctbal"))
      .orderBy("n_name")

  /** Skew-safe salted equi-join, hot keys only — the join-side
    * companion to [[saltedAgg]]. A hot join key (one order carrying a
    * double-digit share of a 100 TB fact table) lands every matching
    * row on ONE reducer of a shuffled join; AQE's skew split can help
    * per-partition, but the canonical engine-level fix is salting:
    * hot fact rows get `salt = pmod(hash(rows' unique cols), salts)`,
    * the MATCHING dim rows replicate `salts` times (one per salt
    * value), and the join key becomes (key, salt). Salting everything
    * would replicate the whole dim side `salts`× — so only the
    * declared hot keys salt; cold keys keep salt 0 with a single dim
    * copy. One union per side, ONE shuffled join on (key, salt) —
    * never a second join to merge hot/cold results.
    *
    * `hotKeys` is a small driver-known list (in production: the
    * output of a heavy-hitter pass, kilobytes — see
    * [[graft.plans.SketchAggs.heavyHitters]]); results are identical
    * to the unsalted join for ANY list, the list only steers the
    * partitioning. The salt derives from hash of the fact row's
    * columns, not rand(): deterministic, and task retries re-salt
    * identically.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame,
                 factKey: String, dimKey: String,
                 hotKeys: Seq[Long], salts: Int = 8): DataFrame = {
    require(salts > 1, "salts must exceed 1")
    val hot = hotKeys.map(lit(_))
    val factSalted = fact.withColumn("salt",
      when(col(factKey).isin(hot: _*),
        pmod(hash(fact.columns.map(col): _*), lit(salts))).otherwise(lit(0)))
    // generators can't sit inside CASE: explode a conditionally-built
    // array instead — salts entries for hot dim keys, [0] for cold
    val dimSalted = dim.withColumn("salt",
      explode(when(col(dimKey).isin(hot: _*),
        array((0 until salts).map(lit): _*)).otherwise(array(lit(0)))))
    factSalted.join(dimSalted,
      col(factKey) === col(dimKey) && factSalted("salt") === dimSalted("salt"))
      .drop("salt")
  }

  /** Gate form of [[saltedJoin]]: lineitem⋈orders revenue per
    * priority. The hot list is a fixed low-orderkey slice — the gate
    * checks value-identity under salting (which holds for ANY hot
    * list), while the skew-spreading property is spec-pinned.
    */
  def saltedJoinRevenue(lineitem: DataFrame, orders: DataFrame): DataFrame =
    saltedJoin(lineitem, orders, "l_orderkey", "o_orderkey",
      hotKeys = (1L to 32L).toSeq, salts = 8)
      .groupBy("o_orderpriority")
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")), 2)
        .cast("double").as("sum_price"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("o_orderpriority")

  /** Latest record per key — the compaction/changelog-view staple
    * (upsert streams, CDC snapshots, "current state" reads). max_by
    * over a (ts, event_id) struct: ONE shuffle with a map-side partial
    * that keeps a single row per key per partition — the row_number
    * window formulation shuffles every raw row and sorts whole
    * partitions just to discard all but rank 1. The (ts, event_id)
    * tie-break struct makes the winner total-ordered (event_id is
    * unique), so the result is deterministic under any merge order.
    */
  def latestByKey(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(max_by(
        struct(col("event_id"), col("ts"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id"), col("last.event_id").as("event_id"),
        date_format(col("last.ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        col("last.event_type").as("event_type"),
        // pass-through, no arithmetic: the winning row's stored double
        // is bit-identical in any engine; re-rounding could only
        // introduce a half-convention divergence
        col("last.value").as("last_value"))
      .orderBy("user_id")

  /** TPC-H Q13-shaped customer distribution: orders-per-customer via a
    * LEFT OUTER join (customers with zero orders count as 0 — an inner
    * join would silently drop the most interesting bucket), then the
    * count-of-counts histogram. Two shuffles: one join+agg on custkey,
    * then a second aggregate over at most max-order-count distinct
    * groups — the second stage is bounded regardless of table size,
    * which is what makes the histogram safe at 100 TB.
    */
  def orderCountDistribution(customer: DataFrame, orders: DataFrame,
                             excludePriority: String = "4-NOT SPECIFIED"): DataFrame = {
    val o = orders.filter(col("o_orderpriority") =!= excludePriority)
    customer.join(o, customer("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(customer("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count")) // count skips nulls: 0 for no-order
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q18-shaped large-order report: orders whose total line
    * quantity exceeds `minQty`. The HAVING aggregate runs FIRST on
    * lineitem alone (one shuffle on orderkey, map-side partials), and
    * only the surviving keys join back — at scale the survivor set is
    * tiny, so AQE turns the back-join into a broadcast. Joining first
    * and filtering later would shuffle the full fact twice.
    */
  def largeOrders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                  minQty: Double = 250.0): DataFrame = {
    val big = lineitem.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("total_qty_d"))
      .filter(col("total_qty_d") > minQty)
    big
      .join(orders, big("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        round(col("o_totalprice"), 2).as("total_price"),
        col("total_qty_d").cast("double").as("total_qty"))
      .orderBy(col("total_price").desc, col("o_date"), col("o_orderkey"))
      .limit(100)
  }

  /** Duplicate-event suppression within a time window — the
    * double-click / retry-storm cleaner every event pipeline runs
    * before sessionization: an event is a duplicate if the SAME
    * (user, type) fired within `windowMs` before it (default one
    * hour — the digest-grade suppression window; tighten to seconds
    * for click streams dense enough to have sub-second retries). One
    * lag window
    * keyed by (user, type); emits the per-(user, type) kept/dropped
    * inventory. Each event compares to its immediate predecessor, so a
    * burst with gaps < windowMs collapses onto its FIRST event (the
    * dedup-not-throttle convention).
    */
  def eventDedupWindow(events: DataFrame, windowMs: Long = 3600000L): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("is_dup",
        col("prev_us").isNotNull &&
          unix_micros(col("ts")) - col("prev_us") < windowMs * 1000L)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      .filter(col("n_dups") > 0)
      .orderBy("user_id", "event_type")
  }

  /** Bloom-pruned semi join — the RUNTIME FILTER pattern, hand-rolled
    * so its mechanics are visible and spec-checkable: aggregate the
    * (small, filtered) build side's keys into a kilobyte bitset
    * ([[graft.plans.SketchAggs.bloomAgg]]), broadcast the ONE-ROW
    * bloom frame across the fact scan, and drop provably-unjoinable
    * fact rows BEFORE the semi-join shuffle. The exact LEFT SEMI join
    * afterwards culls false positives, so the result is identical to
    * the plain semi join (the oracle) — the bloom changes bytes
    * shuffled, never rows returned. At 100 TB with a selective build
    * side this is the dominant term: only the ~σ surviving fraction of
    * the fact crosses the wire. (Spark's own InjectRuntimeFilter plans
    * the same shape when it fires; this operator makes it
    * unconditional and inspectable.)
    */
  def bloomSemiJoin(orders: DataFrame, customer: DataFrame,
                    segment: String = "BUILDING",
                    numBits: Int = 1 << 17, numHashes: Int = 5): DataFrame = {
    import graft.plans.SketchAggs
    val keys = customer.filter(col("c_mktsegment") === segment)
      .select(col("c_custkey"))
    val bloomRow = keys.agg(
      SketchAggs.bloomAgg(col("c_custkey"), numBits, numHashes).as("bloom"))
    val pruned = orders
      .join(broadcast(bloomRow))                 // one-row broadcast: no fan-out
      .filter(SketchAggs.bloomMightContain(
        col("bloom"), col("o_custkey"), numBits, numHashes))
      .drop("bloom")
    pruned
      .join(keys, pruned("o_custkey") === keys("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Day-of-week seasonality profile — the dashboard row under every
    * "when do users buy" question: per ISO weekday (1 = Monday), order
    * count, exact decimal revenue, and the 4dp integer-identity
    * average. ISO numbering via `weekday()+1` because the engines'
    * default `dayofweek` disagree on where Sunday lives (Spark 1,
    * DuckDB 0) while ISO is ISO everywhere. Seven-group hash
    * aggregate with map-side partials — constant output at any scale.
    */
  def dowSeasonality(orders: DataFrame): DataFrame =
    orders
      .groupBy((weekday(col("o_orderdate")) + 1).as("iso_dow"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_d"))
      .withColumn("cents", (col("rev_d") * 100).cast("decimal(38,0)"))
      .select(col("iso_dow"), col("n_orders"),
        col("rev_d").cast("double").as("revenue"),
        (expr("(cents * 200 + n_orders) div (n_orders * 2)").cast("double") / 10000)
          .as("avg_order"))
      .orderBy("iso_dow")

  /** Sequence-validity data-quality check — the state-machine rule a
    * funnel pipeline must enforce before trusting its own numbers:
    * users whose first `purchase` precedes their first `signup` (or
    * who purchased with no signup at all). ONE aggregate builds each
    * user's per-type first-seen timestamps via conditional mins — no
    * window, no self-join; the violation predicate is a row-local
    * comparison after the shuffle.
    */
  def dqSequence(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"),
        min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        count(lit(1)).as("n_events"))
      .filter(col("first_purchase").isNotNull &&
        (col("first_signup").isNull || col("first_purchase") < col("first_signup")))
      .select(col("user_id"),
        date_format(col("first_purchase"), "yyyy-MM-dd HH:mm:ss").as("first_purchase"),
        when(col("first_signup").isNull, lit("missing_signup"))
          .otherwise(lit("purchase_before_signup")).as("violation"),
        col("n_events"))
      .orderBy("user_id")

  /** TPC-H Q14-shaped promo-revenue share: one month of lineitem
    * joined to part (fact shuffles on partkey; part broadcasts when it
    * fits), ONE aggregate carrying both the conditional (promo) and
    * total decimal revenue sums, ratio via the exact integer identity.
    * The one-pass conditional-sum shape is the point: two separate
    * filtered aggregates would scan and shuffle the month twice.
    */
  def promoRevenue(lineitem: DataFrame, part: DataFrame,
                   lo: String = "1996-03-01", hi: String = "1996-04-01"): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")).cast("decimal(4,2)"))
    lineitem
      .filter(col("l_shipdate") >= lit(lo).cast("timestamp") &&
        col("l_shipdate") < lit(hi).cast("timestamp"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        // sum(when(...)) skips the null else-branch: only promo rows
        // accumulate; coalesce covers the no-promo-rows month
        coalesce(sum(when(col("p_type") === "PROMO", rev)), lit(0)).as("promo_d"),
        sum(rev).as("total_d"))
      .withColumn("n_c", (col("promo_d") * 1000000).cast("decimal(38,0)"))
      .withColumn("d_c", (col("total_d") * 100).cast("decimal(38,0)"))
      .select(
        round(col("promo_d"), 2).cast("double").as("promo_revenue"),
        round(col("total_d"), 2).cast("double").as("total_revenue"),
        // 100·promo/total at 4dp HALF_UP, all-integer
        (expr("(n_c * 2 + d_c) div (2 * d_c)").cast("double") / 100.0).as("promo_pct"))
  }

  /** TPC-H Q19-shaped bracket join: an equi join on partkey whose
    * remaining predicate is a DISJUNCTION of (brand, size-range,
    * qty-range) brackets. The scale property under test: Catalyst
    * must extract the common partkey equi-key and plan a hash join
    * with the OR as a residual filter — a planner that fails this
    * falls to BroadcastNestedLoopJoin over the full fact
    * (PlanGuard's third scale-killer; spec-asserted not to happen).
    */
  def bracketRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val brackets =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey") && brackets)
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")).cast("decimal(4,2)")), 2)
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("p_brand")
  }

  /** Q2-shaped ARGMIN join: the cheapest supplier per part, decided
    * INSIDE one hash aggregate via min_by over a composite
    * (cents-scaled price ‖ suppkey) order key — the window-rank form
    * would sort every lineitem row per part; this shuffles only
    * per-(part × partition) partials. Tie on price breaks to the
    * lowest suppkey, making the result total-order deterministic.
    */
  def cheapestSupplier(lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    // cents via decimal, not double*100→long: Spark's double→long cast
    // truncates while DuckDB's rounds, and 12.34*100 is 1233.999… in
    // binary — the decimal route is exact and identical in both
    // PACKED-DECIMAL arg-min (Finance.packedKey): pk = cents·10¹² +
    // suppkey, its min's floor remainder = the cheapest supplier with
    // the suppkey tie-break — the same lexicographic (cents, suppkey)
    // order the old padded-string min_by key encoded, negative prices
    // included, but a decimal(38,0) buffer keeps the whole fact
    // aggregate in codegen'd HashAggregate where the string-keyed min_by
    // buffer forced SortAggregate (a sort of the full scan, twice). A
    // suppkey outside [0, 10¹²) fails by name. The oracle keeps its
    // string form; the winner is identical.
    val packed = Finance.packedKey(
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
      col("l_suppkey"), "l_suppkey")
    val best = lineitem.groupBy(col("l_partkey"))
      .agg(Finance.unpackKey(min(packed)).as("s_suppkey"),
        round(min(col("l_extendedprice")), 2).as("best_price"))
    best.join(supplier, best("s_suppkey") === supplier("s_suppkey"))
      .select(col("l_partkey"), best("s_suppkey").as("suppkey"),
        col("s_name"), col("best_price"))
      .orderBy("l_partkey")
  }

  /** Discount elasticity table: per discount band (integer percent),
    * line count, exact average quantity, and exact decimal revenue —
    * the merchandising probe "do deeper discounts actually move more
    * units". One grouped scan; the band domain bounds the output.
    * Quantities are integral so the average is the all-integer
    * identity.
    */
  def discountElasticity(lineitem: DataFrame): DataFrame = {
    lineitem
      .groupBy((col("l_discount").cast("decimal(4,2)") * 100).cast("int")
        .as("discount_pct"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
            .cast("decimal(4,2)")), 2).cast("double").as("revenue"))
      .withColumn("avg_qty",
        (expr("(sum_qty * 100 * 2 + n_lines) div (2 * n_lines)")
          .cast("double") / 100.0))
      .orderBy("discount_pct")
  }

  /** Exact distributed price VARIANCE per part, ranked: the numeric
    * trap this operator exists to dodge is Welford/float-sum variance,
    * whose result depends on partition merge order — useless as a
    * cross-run baseline. Here Σc and Σc² accumulate as DECIMAL(38,0)
    * cents (order-independent, overflow-free at 10⁹ rows per part),
    * and the sample variance is the integer identity
    * (n·Σc² − (Σc)²) div (n·(n−1)) in cents² — bit-identical on every
    * engine and partitioning. Top-k by variance via TakeOrdered.
    */
  def partPriceVariance(lineitem: DataFrame, k: Int = 50,
                        minN: Long = 2L): DataFrame = {
    lineitem
      .select(col("l_partkey"),
        (col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("decimal(38,0)").as("c"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("s2"))
      .filter(col("n") >= minN)
      .withColumn("var_c2",
        expr("(n * s2 - s * s) div (n * (n - 1))").cast("decimal(38,0)"))
      .select(col("l_partkey"), col("n"),
        (col("s").cast("double") / 100.0).as("sum_price"),
        col("var_c2").cast("double").as("var_cents2"))
      .orderBy(col("var_cents2").desc, col("l_partkey"))
      .limit(k)
  }

  /** Inter-arrival BURSTINESS per event type: the squared coefficient
    * of variation of the gaps preceding each type's events, as
    * integer basis points — CV²=10⁴ is Poisson-like, higher is bursty
    * (retry storms, bot loops), lower is periodic (cron-like). Gaps
    * are integer micros from ONE user-partitioned lag pass; the CV²
    * identity n·Σd²/(Σd)² − 1 evaluates from exact decimal moments
    * with a single integral division, so the flag is reproducible —
    * the variance-policy answer to "is this traffic organic".
    */
  def interarrivalBurstiness(events: DataFrame, minN: Long = 10L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(byUser))
      .filter(col("gap").isNotNull && col("gap") > 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("gap").cast("decimal(38,0)")).as("sd"),
        sum((col("gap").cast("decimal(38,0)") * col("gap")).cast("decimal(38,0)"))
          .as("sd2"))
      .filter(col("n") >= minN)
      .select(col("event_type"), col("n"),
        // mean gap in whole seconds, HALF_UP
        expr("(sd * 2 + n * 1000000) div (2 * n * 1000000)").as("mean_gap_secs"),
        // CV² in bp: (n·Σd²·10⁴) div (Σd)² − 10⁴
        (expr("(n * sd2 * 10000) div (sd * sd)") - 10000L).as("burstiness_bp"))
      .orderBy("event_type")
  }

  /** Exact percentile BANDS of event value per event type — the
    * per-type price/latency band table a monitoring page draws. The
    * nearest-rank convention of [[percentilesByEntity]] applied to
    * the (type, cents) axis: one type-partitioned sort serves every
    * requested percentile, values compare as integer cents, and each
    * band edge is an actual observed value — engine-exact where
    * interpolated percentiles drift.
    */
  def valueBands(events: DataFrame,
                 ps: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val w = byType.orderBy(col("cents"), col("event_id"))
    events
      .select(col("event_type"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byType))
      .select(col("event_type"), col("cents"), col("rn"), col("n"),
        explode(array(ps.map(p => lit(p)): _*)).as("p"))
      .filter(col("rn") === expr("(p * n + 99) div 100"))
      .select(col("event_type"), col("p").cast("long").as("p"),
        (col("cents").cast("double") / 100.0).as("value"), col("n").as("n_events"))
      .orderBy("event_type", "p")
  }

  /** Pearson chi-square independence statistic for the (source,
    * language) contingency table — "is language mix independent of
    * source" as ONE scaled-integer number both engines reproduce:
    * each cell contributes (O·N − R·C)²·10⁴ div (R·C·N) in
    * DECIMAL(38,0) (O observed, R row total, C column total, N grand
    * total — all exact counts), so the statistic is engine-exact at
    * 4dp-equivalent scaling with zero float ops. Cell count bounds
    * the output work; the contingency table itself is one aggregate.
    */
  def sourceLangChi2(documents: DataFrame): DataFrame = {
    val cells = documents.groupBy("source", "lang").agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("source").agg(sum(col("o")).as("r"))
    val cols = cells.groupBy("lang").agg(sum(col("o")).as("c"))
    val total = cells.agg(sum(col("o")).as("n_total"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"))
    // the FULL row×column grid: a (source, lang) combination that never
    // occurs still contributes its expected count to the statistic —
    // dropping zero cells understates chi² exactly when dependence is
    // strongest. The grid is |sources|·|langs| rows (domain-bounded).
    broadcast(rows).crossJoin(broadcast(cols))
      .join(cells, Seq("source", "lang"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(total))
      .withColumn("contrib", expr(
        "(CAST(o AS DECIMAL(38,0)) * n_total - CAST(r AS DECIMAL(38,0)) * c) *" +
          "(CAST(o AS DECIMAL(38,0)) * n_total - CAST(r AS DECIMAL(38,0)) * c) " +
          "* 10000 div (CAST(r AS DECIMAL(38,0)) * c * n_total)"))
      .groupBy("n_sources", "n_langs")
      .agg(sum(col("contrib")).as("chi2_x10000"))
      .select(
        ((col("n_sources") - 1) * (col("n_langs") - 1)).as("dof"),
        col("chi2_x10000").cast("long").as("chi2_x10000"))
  }

  /** OLS slope/intercept from the SAME exact decimal moments as
    * [[qtyPriceCorr]] — a distributed linear regression whose only
    * float ops are the final two divisions. Fitted here: unit price
    * (cents) as a function of quantity, per return flag — the demand-
    * curve probe. slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), intercept =
    * (Σy − slope·Σx)/n, both from exact integers.
    */
  def priceQtySlope(lineitem: DataFrame): DataFrame = {
    val x = col("l_quantity").cast("decimal(10,0)")
    val y = (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("decimal(20,0)")
    lineitem
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * y).cast("decimal(38,0)")).as("sxy"),
        sum((x * x).cast("decimal(38,0)")).as("sxx"))
      .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("decimal(38,0)"))
      .withColumn("den", (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("decimal(38,0)"))
      .withColumn("slope",
        round(col("num").cast("double") / col("den").cast("double"), 4))
      .select(col("l_returnflag"), col("n"), col("slope"),
        round((col("sy").cast("double") -
          col("slope") * col("sx").cast("double")) / col("n").cast("double"), 2)
          .as("intercept_cents"))
      .orderBy("l_returnflag")
  }

  /** Next-period forecast by SIMPLE EXPONENTIAL SMOOTHING with α=½ —
    * in INTEGER cents: s ← (x + s) div 2 folds the ordered monthly
    * series with integer halving, so the forecast is bit-exact on
    * every engine (a float α·x + (1−α)·s recursion drifts). The
    * per-series month array is BOUNDED (the series length — a few
    * dozen rows per region; codebook contract), collected by
    * sort_array and folded by a single `aggregate` expression — the
    * pattern for any bounded-window recursive statistic that windows
    * can't express.
    */
  def sesForecast(region: DataFrame, nation: DataFrame,
                  customer: DataFrame, orders: DataFrame): DataFrame = {
    val dims = broadcast(customer.join(broadcast(nation),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name")))
    orders
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg((sum(col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("long").as("cents"))
      .groupBy("r_name")
      .agg(sort_array(collect_list(struct(col("month"), col("cents"))))
        .as("series"))
      .select(col("r_name"), size(col("series")).as("n_months"),
        (expr("element_at(series, -1).cents").cast("double") / 100.0)
          .as("last_actual"),
        // integer SES fold: seed with the first month, halve forward
        (expr("aggregate(slice(series, 2, size(series) - 1), " +
          "element_at(series, 1).cents, (s, e) -> (e.cents + s) div 2)")
          .cast("double") / 100.0).as("forecast_next"))
      .orderBy("r_name")
  }

  /** Exact-moment Pearson correlation (quantity vs price, per return
    * flag): all five moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as
    * DECIMAL — order-independent and overflow-free — and floating
    * point enters ONCE at the end (the final sqrt/division of two
    * exact decimals), so the statistic is reproducible across engines
    * and partitionings where a streaming float corr() is not. The
    * [[partPriceVariance]] policy applied to a two-variable moment.
    */
  def qtyPriceCorr(lineitem: DataFrame): DataFrame = {
    val x = col("l_quantity").cast("decimal(10,0)")
    val y = (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("decimal(20,0)")
    lineitem
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * y).cast("decimal(38,0)")).as("sxy"),
        sum((x * x).cast("decimal(38,0)")).as("sxx"),
        sum((y * y).cast("decimal(38,0)")).as("syy"))
      .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("decimal(38,0)"))
      .withColumn("denx", (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("decimal(38,0)"))
      .withColumn("deny", (col("n") * col("syy") - col("sy") * col("sy"))
        .cast("decimal(38,0)"))
      .select(col("l_returnflag"), col("n"),
        round(col("num").cast("double") /
          sqrt(col("denx").cast("double") * col("deny").cast("double")), 4)
          .as("corr"))
      .orderBy("l_returnflag")
  }

  /** Open-order backlog aging: orders still open, bucketed by 30-day
    * age bands as of the DATASET'S OWN max order date (a one-row
    * broadcast — no wall clock, so replays are deterministic), with
    * counts and exact decimal value per band. The ops report behind
    * every fulfillment dashboard; output is bounded by the date span
    * over 30.
    */
  def openOrderAging(orders: DataFrame): DataFrame = {
    val asOf = broadcast(orders.agg(max(col("o_orderdate")).as("as_of")))
    orders.filter(col("o_orderstatus") === "O")
      .crossJoin(asOf)
      .withColumn("age_days",
        datediff(to_date(col("as_of")), to_date(col("o_orderdate"))))
      .groupBy(expr("age_days div 30").as("age_bucket_30d"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(12,2)")), 2)
          .cast("double").as("open_value"),
        max(col("age_days")).as("max_age_days"))
      .orderBy("age_bucket_30d")
  }

  /** DAU anomaly flags: each day's distinct-user count judged against
    * its OWN WEEKDAY's robust baseline — the seasonal-aware outage/
    * bot-spike detector (a quiet Sunday is normal; the same count on
    * a Tuesday is an incident). Baseline is the per-weekday rank
    * median and MAD (the [[madOutliers]] convention — all integer,
    * tie-broken on the day, engine-exact); a day flags when its
    * deviation exceeds k·MAD. Every day is reported with its flag
    * (not just anomalies), so the gate can never pass vacuously.
    */
  def dauAnomalies(events: DataFrame, k: Int = 3, minN: Long = 4L): DataFrame = {
    val dau = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .groupBy("day").agg(count(lit(1)).as("dau"))
      .withColumn("dow", weekday(col("day")) + 1)
    val byDow = Window.partitionBy("dow")
    val wVal = byDow.orderBy(col("dau"), col("day"))
    val med = dau
      .withColumn("rn", row_number().over(wVal))
      .withColumn("n", count(lit(1)).over(byDow))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("dow"), col("dau").as("med_dau"), col("n"))
    val dev = dau.join(med, "dow")
      .withColumn("dev", abs(col("dau") - col("med_dau")))
    val wDev = byDow.orderBy(col("dev"), col("day"))
    val mad = dev
      .withColumn("rn", row_number().over(wDev))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("dow"), col("dev").as("mad"))
    dev.join(mad, "dow")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dow"), col("dau"), col("med_dau"), col("dev"), col("mad"),
        (col("n") >= minN && col("mad") > 0 &&
          col("dev") > lit(k.toLong) * col("mad")).as("is_anomaly"))
      .orderBy("day")
  }

  /** A/B experiment report: users split into deterministic arms by
    * the engine-reproducible md5 bucket (the [[Sampling]] convention —
    * re-runs and both engines assign identically; never rand()), then
    * per arm the view→purchase conversion funnel and the B-vs-A lift.
    * All rates are integer basis points and the lift is the
    * positive-operand division identity, so the report hashes
    * identically everywhere. One distinct + one aggregate per arm
    * axis; output is a constant 2-row table.
    */
  def abTestReport(events: DataFrame): DataFrame = {
    val bucket =
      (conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 2)
    val perUser = events
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type")).distinct()
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "view", 1).otherwise(0)).as("viewed"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchased"))
      .withColumn("arm", when(bucket === 0, "A").otherwise("B"))
    perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"),
        sum(col("viewed").cast("long")).as("n_viewed"),
        sum(when(col("viewed") === 1 && col("purchased") === 1, 1L)
          .otherwise(0L)).as("n_converted"))
      .withColumn("conv_bp",
        expr("(n_converted * 10000 * 2 + n_viewed) div (2 * n_viewed)"))
      .orderBy("arm")
  }

  /** Cohort LTV triangle: per signup-month cohort, cumulative
    * purchase revenue per user at each month offset — the
    * lifetime-value curve a growth team reads next to the retention
    * triangle. The cohort anchor is each user's first event month (a
    * per-user min — one shuffle), offsets are integer month
    * arithmetic (no date floats), revenue stays decimal cents, and
    * the cumulative window partitions BY COHORT over the bounded
    * offset axis. Per-user LTV is the all-integer cents identity.
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    val monthNum = (c: org.apache.spark.sql.Column) =>
      year(c) * 12 + month(c)
    val anchors = events.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"), monthNum(col("first_ts")).as("m0"),
        date_format(col("first_ts"), "yyyy-MM").as("cohort_month"))
    val sizes = anchors.groupBy("cohort_month").agg(count(lit(1)).as("n_users"))
    val rev = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), monthNum(col("ts")).as("m"),
        (col("value").cast("decimal(18,2)") * 100).cast("decimal(38,0)").as("cents"))
      .join(anchors, "user_id")
      .groupBy(col("cohort_month"), (col("m") - col("m0")).as("month_offset"))
      .agg(sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy("cohort_month").orderBy("month_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("cum_cents", sum("rev_cents").over(w))
      .join(broadcast(sizes), "cohort_month")
      .select(col("cohort_month"), col("month_offset").cast("long").as("month_offset"),
        col("n_users"),
        (col("rev_cents").cast("double") / 100.0).as("revenue"),
        (col("cum_cents").cast("double") / 100.0).as("cum_revenue"),
        // cumulative LTV per cohort user, cents HALF_UP
        (expr("(cum_cents * 2 + n_users) div (2 * n_users)").cast("double") / 100.0)
          .as("cum_ltv_per_user"))
      .orderBy("cohort_month", "month_offset")
  }

  /** Fulfillment latency per order priority: order-date → ship-date
    * lag in whole days, aggregated as count / exact-integer average
    * (×100 basis) / min / max per priority bucket. One fact-fact
    * shuffle on orderkey; the output is bounded by the priority
    * domain. Day lags are integers, so the average is the all-integer
    * identity — no float day math anywhere.
    */
  def fulfillmentLatency(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag_days"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("lag_days").cast("long")).as("sum_days"),
        min("lag_days").as("min_days"), max("lag_days").as("max_days"))
      .select(col("o_orderpriority"), col("n_lines"),
        // avg at 2dp HALF_UP, all-integer
        (expr("(sum_days * 100 * 2 + n_lines) div (2 * n_lines)")
          .cast("double") / 100.0).as("avg_days"),
        col("min_days"), col("max_days"))
      .orderBy("o_orderpriority")
  }

  /** Fulfillment-latency SLA bands: nearest-rank p50/p90/p99 of the
    * order→ship lag per priority — the tail view [[fulfillmentLatency]]'s
    * averages hide (an SLA is a percentile promise, not a mean). The
    * [[valueBands]] convention: one priority-partitioned sort serves
    * every percentile, each band edge is an actual observed lag, ties
    * break on the line's unique key so both engines pick the same row.
    * Output bounded by \|priorities\|·\|ps\|.
    */
  def latencyBands(orders: DataFrame, lineitem: DataFrame,
                   ps: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    // CUMULATIVE-HISTOGRAM nearest-rank: o_orderpriority has 5 values,
    // so a row_number window here funnels every joined line through 5
    // tasks (the skew signature of guide §2.5 — one giant sort per
    // priority at any scale). lag_days is a bounded small-int domain,
    // so the exact same nearest-rank value falls out of a map-side-
    // combined (priority, lag_days) histogram + a cumulative window
    // over the ≤ |priorities|·|lag domain| bins: the value at rank r
    // is the bin where the cumulative count first reaches r — the
    // within-bin (orderkey, linenumber) tie-break order never changes
    // WHICH lag_days value rank r lands on. Output identical
    // (oracle-shared); per-priority work drops from sort(n·log n) on
    // the full join output to a bounded-bin cumsum.
    val byP = Window.partitionBy("o_orderpriority")
    val wcum = byP.orderBy("lag_days")
    lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag_days"))
      .groupBy("o_orderpriority", "lag_days")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(wcum))
      .withColumn("n", sum("cnt").over(byP))
      .select(col("o_orderpriority"), col("lag_days"), col("cnt"),
        col("cum"), col("n"),
        explode(array(ps.map(p => lit(p)): _*)).as("p"))
      .withColumn("target", expr("(p * n + 99) div 100"))
      .filter(col("cum") - col("cnt") < col("target") &&
        col("target") <= col("cum"))
      .select(col("o_orderpriority"), col("p").cast("long").as("p"),
        col("lag_days").cast("long").as("lag_days"), col("n").as("n_lines"))
      .orderBy("o_orderpriority", "p")
  }

  /** TPC-H Q10-shaped returned-item report: which customers returned
    * the most revenue in a quarter — the churn-risk page every
    * commerce dashboard runs. The returnflag filter rides the
    * lineitem scan, the quarter filter prunes orders BEFORE the
    * orderkey shuffle, the customer join shuffles only surviving
    * orders, nation broadcasts, and the top-20 is a TakeOrdered with
    * a custkey tie-break (never a global sort of all customers).
    */
  def returnedItems(customer: DataFrame, orders: DataFrame,
                    lineitem: DataFrame, nation: DataFrame,
                    lo: String = "1996-01-01", hi: String = "1996-04-01",
                    k: Int = 20): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
        .cast("decimal(4,2)"))
    lineitem.filter(col("l_returnflag") === "R")
      .join(orders.filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
          col("o_orderdate") < lit(hi).cast("timestamp"))
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(rev).as("rev_d"), count(lit(1)).as("n_lines"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        round(col("rev_d"), 2).cast("double").as("returned_revenue"),
        col("n_lines"),
        round(col("c_acctbal"), 2).as("c_acctbal"))
      .orderBy(col("returned_revenue").desc, col("c_custkey"))
      .limit(k)
  }

  /** Day-N retention: of all users, how many were active again
    * exactly N days after their FIRST activity day, for the standard
    * offsets. One distinct (user, day) pass; the anchor (first day)
    * is a per-user min; each anchor fans out to |offsets| probe rows
    * joined back against the distinct activity — work is
    * users × offsets, never days × users. Retention in integer basis
    * points against the one-row cohort size.
    */
  def dnRetention(events: DataFrame,
                  offsets: Seq[Int] = Seq(1, 7, 14, 28)): DataFrame = {
    val active = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val anchors = active.groupBy("user_id").agg(min("day").as("anchor"))
    val probes = anchors.select(col("user_id"), col("anchor"),
        explode(lit(offsets.toArray)).as("day_offset"))
      .withColumn("probe_day", expr("date_add(anchor, day_offset)"))
    val retained = probes.join(active,
        probes("user_id") === active("user_id") &&
          col("probe_day") === col("day"), "left_semi")
      .groupBy("day_offset").agg(count(lit(1)).as("n_retained"))
    val cohort = broadcast(anchors.agg(count(lit(1)).as("n_cohort")))
    retained.crossJoin(cohort)
      .select(col("day_offset"), col("n_retained"), col("n_cohort"),
        expr("(n_retained * 10000 * 2 + n_cohort) div (2 * n_cohort)")
          .as("retention_bp"))
      .orderBy("day_offset")
  }

  /** TPC-H Q6-shaped forecast-revenue delta: ONE predicate-only scan
    * (no joins) summing price·discount over a date / discount-band /
    * quantity slice — the canonical "how much revenue would a policy
    * change move" probe, and the purest pushdown test in the suite:
    * every filter must reach the parquet reader, and the aggregate is
    * one map-side-combined row.
    */
  def forecastRevenue(lineitem: DataFrame,
                      lo: String = "1996-01-01", hi: String = "1997-01-01",
                      discLo: String = "0.05", discHi: String = "0.07",
                      qtyMax: Int = 24): DataFrame = {
    val disc = col("l_discount").cast("decimal(4,2)")
    lineitem
      .filter(col("l_shipdate") >= lit(lo).cast("timestamp") &&
        col("l_shipdate") < lit(hi).cast("timestamp") &&
        disc.between(lit(discLo).cast("decimal(4,2)"), lit(discHi).cast("decimal(4,2)")) &&
        col("l_quantity") < qtyMax)
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") * disc), 2)
        .cast("double").as("revenue_delta"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q9-shaped product-line profit by (supplier nation, year).
    * The schema has no partsupp cost table, so cost is the explicit
    * convention 0.5 · p_retailprice · l_quantity (both engines state
    * it identically — the join/aggregate shape is what's under test,
    * not the costing model). Part-name filter broadcasts and prunes
    * the fact first; supplier⋈nation broadcasts; the only fact-fact
    * shuffle is lineitem⋈orders on orderkey for the order year. All
    * money stays decimal.
    */
  def profitByNation(lineitem: DataFrame, orders: DataFrame,
                     supplier: DataFrame, nation: DataFrame, part: DataFrame,
                     namePattern: String = "%widget%"): DataFrame = {
    val supN = broadcast(supplier.join(broadcast(nation),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation")))
    val profit =
      col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
          .cast("decimal(4,2)") -
      col("p_retailprice").cast("decimal(12,2)") *
        col("l_quantity").cast("decimal(3,0)") * lit("0.5").cast("decimal(2,1)")
    lineitem
      .join(broadcast(part.filter(col("p_name").like(namePattern))
        .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(profit), 2).cast("double").as("profit"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Month-over-month growth per region: regional monthly revenue with
    * the previous month's value and signed basis-point growth. The lag
    * window partitions BY REGION (never a global sort), and growth is
    * the all-integer identity (cur·10⁴·2 + prev) div (2·prev) − 10⁴ —
    * positive operands only, so floor- vs truncate-division engines
    * can't disagree on negative growth months.
    */
  def regionMomGrowth(region: DataFrame, nation: DataFrame,
                      customer: DataFrame, orders: DataFrame): DataFrame = {
    val dims = broadcast(customer.join(broadcast(nation),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name")))
    val monthly = orders
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg((sum(col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("decimal(38,0)").as("cents"))
    val w = Window.partitionBy("r_name").orderBy("month")
    monthly
      .withColumn("prev_cents", lag(col("cents"), 1).over(w))
      .select(col("r_name"), col("month"),
        (col("cents").cast("double") / 100.0).as("revenue"),
        (col("prev_cents").cast("double") / 100.0).as("prev_revenue"),
        when(col("prev_cents").isNotNull,
          expr("(cents * 10000 * 2 + prev_cents) div (2 * prev_cents)") - 10000L)
          .as("growth_bp"))
      .orderBy("r_name", "month")
  }

  /** Market-basket affinity: for part pairs bought together in the
    * same order, the co-occurrence count and LIFT (observed co-rate vs
    * the independence expectation). The pair explode is a self-join on
    * ORDERKEY — per-order work is bounded by lines-per-order², never
    * by part-domain² (the naive part×part matrix) — and the output is
    * a TakeOrdered top-k. Lift is exact-rational at 4dp: the one-row
    * order total and the per-part order counts broadcast back, and
    * N·n_both / (n₁·n₂) evaluates in all-integer arithmetic.
    */
  def basketAffinity(lineitem: DataFrame, minBoth: Int = 3,
                     k: Int = 100): DataFrame = {
    // NOTE (r17): a collect_set + in-row pair-explode rewrite (one
    // orderkey exchange instead of distinct + self-join) was measured
    // SLOWER (1.58 → 1.84 s at sf0.1): collect_set forces
    // ObjectHashAggregate and the transform/flatten pair lambdas are
    // CodegenFallback, while this distinct + self-join stays fully in
    // whole-stage codegen and AQE stage-reuses the distinct's
    // exchange for both join sides. Reverted; kept as the self-join.
    // ALSO rejected (r17, measured): the q21 subset-clustering
    // pre-partition (repartition(l_orderkey) before the distinct, so
    // one fact exchange serves distinct + self-join + order count) —
    // consistently ~+0.1 s at sf0.1: the bare distinct's map-side
    // partial dedup shrinks the exchange that the raw repartition
    // ships in full, and AQE already computes the re-exchange above
    // the distinct only once for both join sides.
    val op = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = op.select(col("l_orderkey"), col("l_partkey").as("p1"))
      .join(op.select(col("l_orderkey"), col("l_partkey").as("p2")), "l_orderkey")
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minBoth)
    val sizes = op.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val total = op.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcast(sizes.select(col("l_partkey").as("p1"), col("n").as("n_p1"))), "p1")
      .join(broadcast(sizes.select(col("l_partkey").as("p2"), col("n").as("n_p2"))), "p2")
      .crossJoin(broadcast(total))
      .select(col("p1"), col("p2"), col("n_both"), col("n_p1"), col("n_p2"),
        // lift = N·both/(n1·n2) at 4dp HALF_UP, all-integer
        (expr("(n_orders * n_both * 10000 * 2 + n_p1 * n_p2) div (2 * n_p1 * n_p2)")
          .cast("double") / 10000.0).as("lift"))
      .orderBy(col("n_both").desc, col("p1"), col("p2"))
      .limit(k)
  }

  /** Revenue-concentration (Lorenz) curve at basis-point granularity:
    * per-customer revenue bucketed into ≤10001 relative-to-max cents
    * buckets, with cumulative customer and revenue shares. The curve
    * answers "what share of revenue do the top X% of customers carry"
    * WITHOUT a global sort of customers: the only global stage is the
    * cumulative window over the bounded histogram (constant-size at
    * any customer count — the curriculum_order contract). Bucketing
    * divides by a max-derived step instead of multiplying cents (no
    * overflow at any revenue), and every share is all-integer basis
    * points, so both engines reproduce the curve bit-for-bit.
    */
  def revenueConcentration(orders: DataFrame): DataFrame = {
    val rev = orders.groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("decimal(38,0)").as("cents"))
    val step = broadcast(rev.agg(
      (expr("max(cents) div 10000") + lit(1)).as("bucket_step"),
      sum(col("cents")).as("tot_cents"),
      count(lit(1)).as("tot_cust")))
    val hist = rev.crossJoin(step)
      .groupBy(expr("cents div bucket_step").as("bucket"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("bucket_cents"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum_customers", sum("n_customers").over(w))
      .withColumn("cum_cents", sum("bucket_cents").over(w))
      .crossJoin(step)
      .select(col("bucket").cast("long").as("bucket"),
        col("n_customers"), col("cum_customers"),
        expr("(cum_customers * 10000 * 2 + tot_cust) div (2 * tot_cust)")
          .cast("long").as("cum_cust_bp"),
        expr("(cum_cents * 10000 * 2 + tot_cents) div (2 * tot_cents)")
          .cast("long").as("cum_revenue_bp"))
      .orderBy("bucket")
  }

  /** Gini coefficient of the revenue distribution — the one-number
    * inequality summary of [[revenueConcentration]]'s curve, computed
    * by the trapezoid rule over the SAME bounded basis-point
    * histogram: G = 1 − Σ Δc·(Rᵢ+Rᵢ₋₁)/(T_c·T_r), every term an
    * exact DECIMAL integer (counts × cumulative cents), one division
    * at the end via the HALF_UP identity. The bucket granularity is
    * the only approximation and both engines share it bit-for-bit;
    * the global window runs over ≤10001 histogram rows.
    */
  def revenueGini(orders: DataFrame): DataFrame = {
    val rev = orders.groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("decimal(38,0)").as("cents"))
    val step = broadcast(rev.agg(
      (expr("max(cents) div 10000") + lit(1)).as("bucket_step")))
    val hist = rev.crossJoin(step)
      .groupBy(expr("cents div bucket_step").as("bucket"))
      .agg(count(lit(1)).as("dc"), sum(col("cents")).as("bucket_cents"))
    val w = Window.orderBy("bucket")
    hist
      .withColumn("r_cum", sum("bucket_cents").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("r_prev", coalesce(lag(col("r_cum"), 1).over(w), lit(0)))
      .agg(sum(col("dc")).as("n_customers"),
        sum(col("bucket_cents")).as("t_r"),
        sum((col("dc") * (col("r_cum") + col("r_prev"))).cast("decimal(38,0)"))
          .as("trap"))
      .select(col("n_customers"),
        expr("((CAST(n_customers AS DECIMAL(38,0)) * t_r - trap) * 10000 * 2 " +
          "+ CAST(n_customers AS DECIMAL(38,0)) * t_r) " +
          "div (2 * CAST(n_customers AS DECIMAL(38,0)) * t_r)").as("gini_bp"))
  }

  /** Within-session ordered funnel: how deep each session progresses
    * through view → click → purchase, IN ORDER (a purchase before the
    * session's first view-then-click chain doesn't count). Sessions
    * are the same gap rule as [[sessionize]]; the three sequential
    * first-occurrence lookups are stacked windows over ONE
    * (user, session) partitioning — one shuffle, three in-partition
    * passes, no self-joins. Output is a constant ≤4-row depth table.
    */
  def sessionFunnel(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val newSession = when(
      col("ts").cast("long") - lag(col("ts").cast("long"), 1).over(byUser) > gapSec, 1
    ).otherwise(0)
    val sessioned = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("session_id", sum(newSession).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "session_id")
          .orderBy(col("ts"), col("event_id"))))
    val ws = Window.partitionBy("user_id", "session_id")
    val staged = sessioned
      .withColumn("v", min(when(col("event_type") === "view", col("rn"))).over(ws))
      .withColumn("c", min(when(col("event_type") === "click" &&
        col("rn") > col("v"), col("rn"))).over(ws))
      .withColumn("p", min(when(col("event_type") === "purchase" &&
        col("rn") > col("c"), col("rn"))).over(ws))
    staged
      .groupBy("user_id", "session_id")
      .agg(max(when(col("p").isNotNull, 3)
        .when(col("c").isNotNull, 2)
        .when(col("v").isNotNull, 1)
        .otherwise(0)).as("depth"))
      .groupBy("depth")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy("depth")
  }

  /** Rolling DAU/MAU engagement: per active day, the distinct users
    * that day (DAU), the distinct users over the trailing `window`
    * days (MAU), and the DAU/MAU stickiness ratio. Exact trailing
    * distinct counts without a per-day window scan: each distinct
    * (user, day) row fans out to the ≤`window` future report days it
    * participates in — a BOUNDED ×window explode of the already-
    * deduplicated activity table (not of raw events), then one
    * distinct + count per day. Days with zero activity are not
    * reported (inner join with the DAU side).
    */
  def rollingActiveUsers(events: DataFrame, window: Int = 28): DataFrame =
    rollingActiveUsersFrom(
      events.select(col("user_id"), to_date(col("ts")).as("day")).distinct(), window)

  /** Persisted ACTIVITY rollup — the distinct (user, day) table as an
    * ingest-time artifact, partitioned by day with one file per
    * partition. Every engagement consumer (DAU/MAU, streaks,
    * retention) re-derives this same distinct from raw events; at
    * 100 TB that distinct is the dominant cost and this pays it once —
    * a day's partition is closed the day it ends, appends are
    * partition-local, and a probe reads only the window's partitions.
    */
  def writeActivityRollup(events: DataFrame, table: String): Unit =
    events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").format("parquet")
      .saveAsTable(table)

  /** Windowed DAU probe over the [[writeActivityRollup]] artifact:
    * daily active users for a DATE RANGE, where the range predicate
    * lands on the PARTITION column — the scan reads only the window's
    * day partitions (PartitionFilters, spec-pinned to the exact
    * partition count), so a dashboard's 7-day probe over a year of
    * activity touches 7/365 of the data. This is the read-path payoff
    * the day-partitioned layout exists for.
    */
  def dauWindow(activity: DataFrame, lo: String, hi: String): DataFrame =
    activity
      .filter(col("day") >= lit(lo).cast("date") &&
        col("day") <= lit(hi).cast("date"))
      .groupBy("day").agg(count(lit(1)).as("dau"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("dau"))
      .orderBy("day")

  /** [[rollingActiveUsers]] over an already-deduplicated (user, day)
    * activity table (typically the [[writeActivityRollup]] artifact —
    * the indexed twin skips the corpus-wide distinct entirely).
    */
  def rollingActiveUsersFrom(activity: DataFrame, window: Int = 28): DataFrame = {
    val ud = activity.select(col("user_id"), col("day").cast("date").as("day"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val mau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), window - 1))).as("wday"))
      .distinct()
      .groupBy(col("wday").as("day")).agg(count(lit(1)).as("mau"))
    dau.join(mau, "day")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("mau"),
        // DAU/MAU at 4dp HALF_UP, all-integer
        (expr("(dau * 10000 * 2 + mau) div (2 * mau)").cast("double") / 10000.0)
          .as("stickiness"))
      .orderBy("day")
  }

  /** Click→purchase conversion-lag histogram: for every purchase, the
    * time since the user's most recent preceding click (≤ `maxDays`
    * back), bucketed by hour. The as-of lookup is ONE user-partitioned
    * window (`last(click_ts) ignoring nulls` over the time-ordered
    * event stream — no self-join), and the output is a bounded
    * ≤ 24·maxDays-row histogram at any event volume. Ties at the same
    * timestamp order by event_id, so click-vs-purchase races resolve
    * identically in every engine.
    */
  def conversionLag(events: DataFrame, maxDays: Int = 7): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("last_click",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("last_click").isNotNull)
      .withColumn("lag_secs",
        expr("(unix_micros(ts) - unix_micros(last_click)) div 1000000"))
      .filter(col("lag_secs") <= maxDays.toLong * 86400L)
      .groupBy(expr("lag_secs div 3600").as("lag_hours"))
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy("lag_hours")
  }

  /** Audience-overlap matrix: for every pair of event types, how many
    * distinct users did BOTH, plus the exact Jaccard of the two
    * audiences. The naive form is one self-join per type pair; this
    * builds ALL pairs in one pass: distinct (user, type) → per-user
    * type set (bounded by the type-domain size, not by event count) →
    * in-row pair explode (≤ |types|² per user) → one pair count
    * shuffle. Audience sizes are a |types|-row broadcast; Jaccard via
    * inclusion-exclusion in all-integer 4dp.
    */
  def audienceOverlap(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val pairs = ut.groupBy("user_id")
      .agg(collect_set(col("event_type")).as("types"))
      .select(explode(col("types")).as("t1"), col("types"))
      .select(col("t1"), explode(col("types")).as("t2"))
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2")
      .agg(count(lit(1)).as("n_both"))
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(sizes.select(col("event_type").as("t1"), col("n").as("n_t1"))), "t1")
      .join(broadcast(sizes.select(col("event_type").as("t2"), col("n").as("n_t2"))), "t2")
      .withColumn("n_either", col("n_t1") + col("n_t2") - col("n_both"))
      .select(col("t1"), col("t2"), col("n_both"), col("n_t1"), col("n_t2"),
        // Jaccard at 4dp HALF_UP, all-integer: round(10⁴·both/either)
        (expr("(n_both * 10000 * 2 + n_either) div (2 * n_either)")
          .cast("double") / 10000.0).as("jaccard"))
      .orderBy("t1", "t2")
  }

  /** SKETCH-algebra audience overlap — the at-scale form of
    * [[audienceOverlap]]: pairwise |A∩B| estimated by
    * inclusion–exclusion over HLL sketches (est(A)+est(B)−est(A∪B)),
    * the only way set INTERSECTIONS survive when the per-type distinct
    * is itself too large to materialize (sketches union losslessly;
    * intersections don't sketch directly). One sketch per type
    * (kilobytes), the T×T pair grid is a domain-bounded cross of the
    * T-row sketch frame, and the estimate is graded against the exact
    * overlap in-query: the gate hashes the exact count plus a
    * within-bound boolean (|err| ≤ boundPct% of the exact union — I–E
    * compounds three sketch errors, hence the slack), the
    * [[hll_cardinality]] convention for impl-defined estimates.
    */
  def hllOverlap(events: DataFrame, boundPct: Int = 10): DataFrame = {
    val sk = events.groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
    val approx = a.crossJoin(b).filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        (expr("hll_sketch_estimate(ska)") + expr("hll_sketch_estimate(skb)") -
          expr("hll_sketch_estimate(hll_union(ska, skb))")).as("approx_overlap"))
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val exact = ut.groupBy("user_id")
      .agg(collect_set(col("event_type")).as("types"))
      .select(explode(col("types")).as("type_a"), col("types"))
      .select(col("type_a"), explode(col("types")).as("type_b"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("exact_overlap"))
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    approx
      .join(exact, Seq("type_a", "type_b"), "left")
      .withColumn("exact_overlap", coalesce(col("exact_overlap"), lit(0L)))
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))), "type_b")
      .withColumn("exact_union", col("n_a") + col("n_b") - col("exact_overlap"))
      .select(col("type_a"), col("type_b"), col("exact_overlap"),
        (abs(col("approx_overlap") - col("exact_overlap")) <=
          lit(boundPct / 100.0) * col("exact_union")).as("within_bound"))
      .orderBy("type_a", "type_b")
  }

  /** Gaps-and-islands: consecutive-active-day streaks per user. A
    * user's distinct active days, grouped into runs of consecutive
    * dates via the classic `day − row_number` island key — reported as
    * days active, number of streaks, and the longest streak. All
    * windows partition BY USER (no global sort); the distinct bounds
    * window input at one row per (user, day).
    */
  def userStreaks(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("island", date_sub(col("day"), row_number().over(w)))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum("len").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max("len").as("longest_streak"))
      .orderBy("user_id")
  }

  /** TPC-H Q7-shaped bi-nation volume: revenue shipped between a
    * nation PAIR (both directions), by supplier nation × customer
    * nation × ship year. The scale shape: both nation filters are
    * pushed into broadcast dim joins (supplier⋈nation and
    * customer⋈nation each prune their fact side BEFORE the fact-fact
    * shuffle), so the lineitem⋈orders join on orderkey only moves
    * rows belonging to the two nations — a naive post-join filter
    * would shuffle the full fact.
    */
  def nationVolume(lineitem: DataFrame, orders: DataFrame,
                   customer: DataFrame, supplier: DataFrame,
                   nation: DataFrame,
                   natA: String = "NATION_1", natB: String = "NATION_2",
                   loYear: Int = 1996, hiYear: Int = 1997): DataFrame = {
    val nat2 = nation.filter(col("n_name").isin(natA, natB))
    // inner joins against the 2-row nation slice ARE the pushed filter
    val supN = broadcast(supplier.join(broadcast(nat2),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val custN = customer.join(broadcast(nat2),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val rev = (col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
        .cast("decimal(4,2)"))
    lineitem
      .filter(year(col("l_shipdate")).between(loYear, hiYear))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      // keep only the CROSS-nation directions (a nation shipping to
      // itself is not "trade between the pair")
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(rev), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8-shaped market share: for one part type sold to one
    * region's customers, the share of revenue supplied by one nation,
    * per order year. Plan shape: the part-type filter broadcasts and
    * prunes lineitem FIRST (highest selectivity), supplier⋈nation
    * broadcasts unfiltered (every supplier nation participates in the
    * denominator), the region filter prunes customers via a broadcast
    * nation⋈region slice. ONE aggregate carries the conditional
    * (target-nation) and total sums; share is all-integer 4dp.
    */
  def marketShare(lineitem: DataFrame, orders: DataFrame,
                  customer: DataFrame, supplier: DataFrame,
                  nation: DataFrame, region: DataFrame, part: DataFrame,
                  targetRegion: String = "ASIA",
                  targetNation: String = "NATION_2",
                  partType: String = "PROMO",
                  loYear: Int = 1995, hiYear: Int = 1997): DataFrame = {
    val regNations = broadcast(nation.join(
        broadcast(region.filter(col("r_name") === targetRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("reg_natkey")))
    val custReg = customer.join(regNations,
        col("c_nationkey") === col("reg_natkey"))
      .select("c_custkey")
    val supN = broadcast(supplier.join(broadcast(nation),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val rev = (col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
        .cast("decimal(4,2)"))
    lineitem
      .join(broadcast(part.filter(col("p_type") === partType)
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .join(supN, col("l_suppkey") === col("s_suppkey"))
      .join(orders.filter(year(col("o_orderdate")).between(loYear, hiYear))
        .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(custReg, col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        coalesce(sum(when(col("supp_nation") === targetNation, rev)),
          lit(0)).as("nation_d"),
        sum(rev).as("total_d"))
      .withColumn("n_c", (col("nation_d") * 1000000).cast("decimal(38,0)"))
      .withColumn("d_c", (col("total_d") * 100).cast("decimal(38,0)"))
      .select(col("o_year"),
        round(col("nation_d"), 2).cast("double").as("nation_revenue"),
        round(col("total_d"), 2).cast("double").as("total_revenue"),
        // 100·nation/total at 4dp HALF_UP, all-integer (promo_pct rule)
        (expr("(n_c * 2 + d_c) div (2 * d_c)").cast("double") / 100.0)
          .as("mkt_share_pct"))
      .orderBy("o_year")
  }

  /** TPC-H Q15-shaped top supplier: revenue per supplier over a
    * quarter, keep the max-revenue supplier(s). The max is a ONE-ROW
    * aggregate broadcast back as an equi-join on the exact decimal
    * cents — never a global window over all suppliers (a window with
    * no partition key single-partitions the whole supplier set; the
    * one-row broadcast join is the at-scale form). Ties all survive,
    * ordered by suppkey, exactly as the spec's view formulation.
    */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame,
                  lo: String = "1996-01-01", hi: String = "1996-04-01"): DataFrame = {
    val rev = (col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
        .cast("decimal(4,2)"))
    val revs = lineitem
      .filter(col("l_shipdate") >= lit(lo).cast("timestamp") &&
        col("l_shipdate") < lit(hi).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(rev).as("rev_d"))
    val top = broadcast(revs.agg(max(col("rev_d")).as("max_d")))
    revs.join(top, col("rev_d") === col("max_d"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey").cast("long").as("suppkey"), col("s_name"),
        round(col("rev_d"), 2).cast("double").as("total_revenue"))
      .orderBy("suppkey")
  }

  /** TPC-H Q17-shaped small-quantity revenue: average yearly revenue
    * lost if small orders (qty below 20% of the part's average) were
    * no longer taken, for one brand. The correlated-subquery threshold
    * is decorrelated into a per-part aggregate JOINED back to the fact
    * — and the comparison qty < sum/(5·cnt) is cross-multiplied to
    * all-integer qty·5·cnt < sum (quantities are integral), so both
    * engines decide every boundary row identically with zero division.
    * The brand filter broadcasts and prunes BOTH the aggregate input
    * and the probe side before any shuffle.
    */
  def smallQtyRevenue(lineitem: DataFrame, part: DataFrame,
                      brand: String = "Brand#12"): DataFrame = {
    val branded = lineitem.join(
      broadcast(part.filter(col("p_brand") === brand).select("p_partkey")),
      col("l_partkey") === col("p_partkey"))
    // the per-part threshold as a WINDOW over the branded fact, not an
    // aggregate joined back: the two consumers of `branded` keyed
    // differently (t_partkey aggregate vs l_partkey probe), so nothing
    // reused and the scan + broadcast join ran twice; the window
    // computes the identical (sum, count) per part in the branded
    // fact's one partkey exchange
    val wPart = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    branded
      .withColumn("sum_qty", sum(col("l_quantity").cast("long")).over(wPart))
      .withColumn("cnt_qty", count(lit(1)).over(wPart))
      .filter(col("l_quantity").cast("long") * 5 * col("cnt_qty") < col("sum_qty"))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).as("s_d"),
        count(lit(1)).as("n_small"))
      .withColumn("cents", (col("s_d") * 100).cast("decimal(38,0)"))
      .select(
        // sum/7.0 rounded 2dp HALF_UP in integer cents: (2c+7) div 14
        (expr("(cents * 2 + 7) div 14").cast("double") / 100.0)
          .as("avg_yearly"),
        col("n_small"))
  }

  /** TPC-H Q16-shaped supplier variety: how many DISTINCT suppliers
    * ship each (brand, type, size) bucket, excluding one brand and one
    * type. partsupp doesn't exist in this schema, so the observed
    * (partkey, suppkey) pairs in lineitem stand in for it. The
    * distinct runs on (brand, type, size, suppkey) AFTER the broadcast
    * part filter prunes the fact — one shuffle, and the final count
    * per bucket is a plain count over already-distinct rows (no
    * count-distinct shuffle on top).
    */
  def supplierVariety(lineitem: DataFrame, part: DataFrame,
                      exclBrand: String = "Brand#1",
                      exclType: String = "PROMO",
                      sizes: Seq[Int] = Seq(1, 4, 7, 10, 13)): DataFrame = {
    val dims = broadcast(part
      .filter(col("p_brand") =!= exclBrand && col("p_type") =!= exclType &&
        col("p_size").isin(sizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size"))
    lineitem.select("l_partkey", "l_suppkey")
      .join(dims, col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_type"), col("p_size"), col("l_suppkey"))
      .distinct()
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count(lit(1)).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q20-shaped excess-supply probe: suppliers who shipped MORE
    * than 1.5× a part's mean per-supplier annual volume for any
    * name-matched part. Q20's correlated `0.5·availqty` subquery
    * (partsupp doesn't exist here) decorrelates identically: the
    * per-(part, supplier) year aggregate feeds a per-part second
    * aggregate (narrow — |parts| rows), joined back with the threshold
    * as the all-integer cross-multiplied comparison qty·2·n > sum·3
    * (⇔ qty > 1.5·mean, zero division). Survivor suppliers semi-join
    * into the broadcast supplier⋈nation dim. Shapes: part filter
    * broadcasts and prunes the fact FIRST; one suppkey-partkey
    * shuffle; everything after is |parts|- or |suppliers|-bounded.
    */
  def excessSuppliers(lineitem: DataFrame, supplier: DataFrame,
                      nation: DataFrame, part: DataFrame,
                      namePrefix: String = "large",
                      year: String = "1996"): DataFrame = {
    val matched = broadcast(part
      .filter(col("p_name").startsWith(namePrefix)).select("p_partkey"))
    val shipped = lineitem
      .filter(col("l_shipdate") >= s"$year-01-01" &&
        col("l_shipdate") < s"${year.toInt + 1}-01-01")
      .join(matched, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
    val perPart = shipped.groupBy(col("l_partkey").as("t_partkey"))
      .agg(sum(col("qty")).as("part_qty"), count(lit(1)).as("n_supp"))
    val excess = shipped
      .join(perPart, col("l_partkey") === col("t_partkey"))
      .filter(col("qty") * 2 * col("n_supp") > col("part_qty") * 3)
      .select(col("l_suppkey")).distinct()
    supplier
      .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q21-shaped sole-blocker report: suppliers who were the ONLY
    * late shipper in a multi-supplier order (their max ship date
    * exceeds the order date + `lateDays`; every other supplier in the
    * order shipped on time) — the waiting-on-you accountability query,
    * Q21's EXISTS/NOT-EXISTS pair collapsed into one per-order
    * conditional aggregate: n_supp ≥ 2 ∧ n_late = 1 decides "some
    * other supplier exists, no other LATE supplier exists" without
    * either self-semi-join. Shapes: one (orderkey, suppkey) aggregate
    * over the fact, the orders date broadcast-pruned join, one
    * orderkey-bounded per-order aggregate joined back, supplier names
    * via broadcast, top-k via TakeOrdered.
    */
  def lateSoleSuppliers(lineitem: DataFrame, orders: DataFrame,
                        supplier: DataFrame, lateDays: Int = 60,
                        k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE orderkey exchange for the whole pipeline: partitioning by
    // l_orderkey up front satisfies the (l_orderkey, l_suppkey)
    // aggregate's clustered distribution AND the per-order window
    // below, so the old plan's second full exchange (agg keyed
    // (ok, sk), window re-shuffling on ok) disappears. The trade —
    // raw rows instead of partially-aggregated rows through the one
    // exchange — is near-free here: (ok, sk) groups ≈ lineitem rows
    // (one supplier repeats within an order rarely), so the removed
    // partial aggregation was barely reducing.
    val perSupp = lineitem
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("max_ship"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("max_ship") > date_add(to_date(col("o_orderdate")), lateDays))
    // per-order stats as a WINDOW over the orderkey the join already
    // partitioned by — not an aggregate joined back, which would
    // recompute the whole lineitem subtree for the second consumer
    // (observed: two full fact scans in the aggregate+join plan)
    val w = Window.partitionBy("l_orderkey")
    perSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late", sum(when(col("late"), 1L).otherwise(0L)).over(w))
      .filter(col("late") && col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(k)
  }

  /** Daily view→purchase conversion trend — the growth dashboard's
    * headline line chart ([[abTestReport]] compares arms; this tracks
    * the whole funnel over time). Distinct (user, day, type) FIRST
    * (one row per user-day-type however many raw events), then one
    * conditional-sum aggregate per day — no count-distinct expansion;
    * conversion in integer bp over the day's viewers. Days with zero
    * viewers report 0 bp (guarded division).
    */
  def conversionTrend(events: DataFrame): DataFrame = {
    events
      .filter(col("event_type").isin("view", "purchase"))
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id"), col("event_type"))
      .distinct()
      .groupBy("day")
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_viewers"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchasers"))
      .select(col("day"), col("n_viewers"), col("n_purchasers"),
        when(col("n_viewers") === 0, lit(0L))
          .otherwise(expr("(2 * n_purchasers * 10000 + n_viewers) div (2 * n_viewers)"))
          .as("conv_bp"))
      .orderBy("day")
  }

  /** Order-status mix per month — the ops lifecycle dashboard
    * (fulfilled / open / partial shares over time; a drifting mix is a
    * fulfillment backlog forming). ONE conditional-sum aggregate per
    * month carries all three statuses (the dq_report "adding a check
    * is free" shape), shares via the HALF_UP bp identity; output
    * bounded by the month span.
    */
  def statusMixTrend(orders: DataFrame): DataFrame = {
    def n(st: String) =
      sum(when(col("o_orderstatus") === st, 1L).otherwise(0L))
    orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        n("F").as("n_f"), n("O").as("n_o"), n("P").as("n_p"))
      .select(col("month"), col("n_orders"),
        expr("(2 * n_f * 10000 + n_orders) div (2 * n_orders)").as("f_bp"),
        expr("(2 * n_o * 10000 + n_orders) div (2 * n_orders)").as("o_bp"),
        expr("(2 * n_p * 10000 + n_orders) div (2 * n_orders)").as("p_bp"))
      .orderBy("month")
  }

  /** TPC-H Q11-shaped important-parts probe: parts whose shipped value
    * through ONE nation's suppliers exceeds a basis-point fraction of
    * that nation's total — Q11's HAVING-against-a-global-scalar shape
    * (partsupp doesn't exist here; observed lineitem value stands in
    * for stock value). The global total is a ONE-ROW broadcast reduce
    * cross-joined back (the q15 contract — never a partition-less
    * window), and the threshold compare is exact decimal
    * cross-multiplication `value·10⁴ > total·fracBp` — no float
    * fraction. Shapes: nation slice broadcasts and prunes the fact
    * first; one partkey shuffle.
    */
  def importantParts(lineitem: DataFrame, supplier: DataFrame,
                     nation: DataFrame, nationName: String = "NATION_1",
                     fracBp: Long = 20L): DataFrame = {
    val natSupp = broadcast(supplier
      .join(broadcast(nation.filter(col("n_name") === nationName)
        .select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey"))
    val valued = lineitem
      .join(natSupp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("value_d"))
    val total = broadcast(valued.agg(sum(col("value_d")).as("total_d")))
    valued.crossJoin(total)
      .filter(col("value_d") * 10000 > col("total_d") * fracBp)
      .select(col("l_partkey"), col("value_d").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** Benford first-digit conformance of order totals — the classic
    * fraud/DQ screen (fabricated amounts flunk it; organic multi-scale
    * money follows log10(1+1/d)). All nine digits report even at zero
    * count (a missing digit IS the signal — the source_lang_chi2
    * full-grid argument): a 9-row literal digit axis left-joins the
    * counts, the one-row total broadcasts back, observed shares use
    * the HALF_UP bp identity, and the expected shares are the Benford
    * constants pre-rounded to integer bp — no log10() at query time,
    * so both engines agree bit-for-bit. One scan + one 9-row join.
    */
  def benfordCheck(orders: DataFrame): DataFrame = {
    val cents = (round(col("o_totalprice"), 2).cast("decimal(12,2)") * 100)
      .cast("long")
    val counts = orders.filter(cents > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("d"))
      .groupBy("d").agg(count(lit(1)).as("n"))
    val total = broadcast(counts.agg(sum(col("n")).as("total")))
    val digits = orders.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    // Benford bp constants: round(10⁴·log10(1+1/d)) HALF_UP
    val expected = expr(
      "element_at(array(3010, 1761, 1249, 969, 792, 669, 580, 512, 458), digit)")
    digits
      .join(counts, col("digit") === col("d"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .crossJoin(total)
      .select(col("digit"), col("n"),
        expr("(2 * n * 10000 + total) div (2 * total)").as("share_bp"),
        expected.cast("long").as("expected_bp"))
      .withColumn("dev_bp", col("share_bp") - col("expected_bp"))
      .orderBy("digit")
  }

  /** TPC-H Q2-shaped minimum-cost supplier: for each part in a size
    * band, the cheapest REGIONAL supplier — Q2's correlated
    * `ps_supplycost = (SELECT min(ps_supplycost) …)` subquery
    * DECORRELATED into a per-part min aggregate joined back onto the
    * per-(part, supplier) offer table (partsupp doesn't exist in this
    * schema, so the min observed lineitem price per (part, supplier)
    * stands in for the supply cost — the q16/q17/q20 substitution).
    * All price compares run on integer CENTS; ties at the min keep
    * every tying supplier (Q2 semantics) and the final ORDER BY ends
    * on the emitted (p_partkey, s_suppkey) pair — unique per result
    * row BY KEY, not by any name column's accidental uniqueness — so
    * LIMIT 100 is engine-independent for arbitrary inputs. Scale shapes: region→nation→
    * supplier collapses to a ~|suppliers| broadcast; the part filter
    * broadcasts and prunes the fact scan BEFORE its one grouped
    * shuffle; the per-part min is a second tiny aggregate over
    * |parts|·|suppliers| offers, joined back equi-keyed.
    * Ref: mirrors the reference's report "top supplier per instrument"
    * join (idx_extraction_script.py's cheapest-source pick).
    */
  def minCostRegionSupplier(lineitem: DataFrame, supplier: DataFrame,
                            nation: DataFrame, region: DataFrame,
                            part: DataFrame,
                            regionName: String = "EUROPE",
                            sizes: Seq[Int] = Seq(15, 25, 35, 45)): DataFrame = {
    val regionalSupp = supplier
      .join(broadcast(nation
        .join(broadcast(region.filter(col("r_name") === regionName)
          .select("r_regionkey")), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val parts = part.filter(col("p_size").isin(sizes: _*))
      .select("p_partkey", "p_name")
    // the per-part min as a WINDOW over the offers aggregate, not an
    // aggregate joined back: the join-back form consumed `offers` from
    // two branches, re-running the whole lineitem⋈part⋈supplier join
    // for each (no exchange sits between the scans and the partial
    // aggregate, so nothing reuses), and paid two more exchanges for
    // the min side + the join. Pre-partitioning by l_partkey lets the
    // (l_partkey, l_suppkey) aggregate AND the per-part window share
    // ONE exchange (the q21 pattern; the filtered fact is already
    // dimension-pruned, so raw-vs-partial-agg rows through it are
    // comparable). Ties keep every matching row, exactly as the
    // equi-join on cost did.
    val offers = lineitem
      .join(broadcast(parts.select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .join(broadcast(regionalSupp.select("s_suppkey")), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
        .as("cost_cents"))
    val wPart = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    offers
      .withColumn("best_cents", min(col("cost_cents")).over(wPart))
      .filter(col("cost_cents") === col("best_cents"))
      .join(broadcast(regionalSupp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("s_suppkey"), col("n_name"),
        col("p_partkey"), col("p_name"),
        (col("cost_cents").cast("double") / 100.0).as("supply_cost"))
      .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"),
        col("s_suppkey"))
      .limit(100)
  }

  /** TPC-H Q12-shaped shipment-class priority counts: per ship class
    * (l_returnflag stands in for the missing l_shipmode — the same
    * column-substitution rule as the rest of the pack), how many
    * lineitems shipped in the window belong to critical-priority
    * orders vs not. The orders side is projected to (key, one 0/1
    * flag) BEFORE the fact join — the shuffle carries two ints per
    * order, not the orders row; counts are exact integers so every
    * engine agrees bit-for-bit. One equi-shuffle + a 3-row aggregate.
    */
  def shipClassPriority(lineitem: DataFrame, orders: DataFrame,
                        from: String = "1996-01-01",
                        until: String = "1997-01-01"): DataFrame = {
    val highFlag = orders.select(col("o_orderkey"),
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(1L))
        .otherwise(lit(0L)).as("is_high"))
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .select("l_orderkey", "l_returnflag")
      .join(highFlag, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag").as("ship_class"))
      .agg(sum(col("is_high")).as("high_line_count"),
        sum(lit(1L) - col("is_high")).as("low_line_count"))
      .orderBy("ship_class")
  }
}
