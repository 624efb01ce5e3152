package graft

/** Global plan guard over EVERY registered gate query: scale-shape
  * rules that must hold for the whole surface, not per-operator.
  * Catches a regression (an accidental cartesian, an unbounded
  * global single-partition stage) the moment it lands in ANY query,
  * including future ones — new queries are guarded by default.
  */
class PlanGuardSpec extends SparkSpec {

  // Queries whose plan legitimately contains an Exchange
  // SinglePartition, each with a bounded-size argument:
  //  - hll_cardinality / quantile_sketch: global one-row sketch merge
  //    (kilobytes into the final reduce)
  //  - api_paginate / api_report_list: page-bounded rn assignment
  //    (≤ page·limit rows on the single partition, by construction)
  //  - sample_target_mix / sample_temperature: window over the L-row
  //    language-count frame
  //  - tfidf_top_terms: the one-row global doc count (idf numerator),
  //    broadcast back — the final reduce of a count is one row
  //  - bm25_topk: the one-row corpus stats aggregate (N, Σdl, per-term
  //    df) — one partial-agg row per partition into the final reduce
  //  - rarity_score: the one-row (total, |vocab|) corpus stats reduce
  //    off the vocab aggregate, broadcast back
  //  - mix_token_budget: the one-row global budget aggregate (total
  //    tokens, n_langs) — same bounded-reduce contract as rarity_score
  //  - curriculum_order: the cumulative window over the basis-point
  //    score HISTOGRAM — ≤ 10001 rows by domain construction (q_bp ∈
  //    [0, 10000]), constant-size at any corpus scale
  //  - user_rfm: the one-row as-of date reduce, broadcast back
  //  - dq_report: one single-row aggregate per table (three) — the
  //    report itself is a constant 9 rows
  private val singlePartitionOk = Set(
    "hll_cardinality", "quantile_sketch",
    "api_paginate", "api_report_list",
    "sample_target_mix", "sample_temperature",
    "tfidf_top_terms", "bm25_topk", "rarity_score",
    "mix_token_budget", "curriculum_order",
    "user_rfm", "dq_report",
    // funnel_steps: one-row per-step count reduces (3 rows total)
    "funnel_steps",
    // curation_funnel: the final one-ROW stage-count reduce — each
    // partition contributes five partial counters, nothing
    // data-proportional crosses the single partition
    "curation_funnel",
    // skew_report: the one-row grand-total reduce off the key counts
    "skew_report",
    // heavy_hitters: the k-entry sketch's final merge is one row of
    // bounded bytes per partition into the reduce
    "heavy_hitters",
    // table_profile: one single-row stats reduce over the table
    "table_profile",
    // api_data_point: the one-row min(period_key) probe reduce over
    // ONE entity's series, broadcast back — bounded by construction
    "api_data_point",
    // doc_logprob (and logprob_cutoffs, which consumes it): the
    // one-row corpus token total reduce, broadcast back onto the
    // vocab — same bounded contract as rarity_score
    "doc_logprob", "logprob_cutoffs",
    // bloom_prune_join: the one-row kilobyte-bitset bloom reduce,
    // broadcast across the fact scan (the runtime-filter shape)
    "bloom_prune_join",
    // q14_promo_revenue: the whole query IS one global one-row
    // aggregate (promo + total sums) — same contract as dq_report
    "q14_promo_revenue",
    // q15_top_supplier: the one-row global max-revenue reduce off the
    // per-supplier aggregate, broadcast back as the top filter — the
    // at-scale replacement for a partition-less window
    "q15_top_supplier",
    // q17_small_qty: the whole query ends in one global one-row
    // aggregate (revenue sum + count) — same contract as q14
    "q17_small_qty",
    // basket_affinity: the one-row order-total reduce (broadcast back
    // for the lift denominator) + the TakeOrdered top-k tail
    "basket_affinity",
    // q6_forecast_revenue: the whole query IS one global one-row
    // aggregate over a predicate-only scan — same contract as q14
    "q6_forecast_revenue",
    // dn_retention: the one-row cohort-count reduce, broadcast back
    "dn_retention",
    // vocab_coverage: the one-row corpus-total reduce + the cumulative
    // window over the TakeOrdered ≤max(ks)-row top-terms artifact
    "vocab_coverage",
    // trending_terms: the one-row corpus-midpoint reduce, broadcast
    // back across the token stream
    "trending_terms",
    // open_order_aging: the one-row as-of date reduce, broadcast back
    // (the user_rfm contract)
    "open_order_aging",
    // source_lang_chi2: the one-row totals reduce + the final one-row
    // statistic over the |sources|·|langs| grid (domain-bounded)
    "source_lang_chi2",
    // revenue_concentration / revenue_gini: the one-row (step, totals)
    // reduce and the cumulative window over the ≤10001-row basis-point
    // histogram — constant-size at any customer count
    // (curriculum_order contract)
    "revenue_concentration", "revenue_gini",
    // benford_totalprice: the one-row digit-count total reduce +
    // the constant 9-row digit-axis join
    "benford_totalprice",
    // ccnet_buckets: inherits doc_logprob's one-row corpus token-total
    // reduce (same bounded contract)
    "ccnet_buckets",
    // source_kl: the one-row corpus-token-total reduce, broadcast back
    // onto the (source, word) table
    "source_kl",
    // dsir_logratio (+ its resample consumer): the one-row (|vocab|,
    // N_target, N_raw) smoothing stats reduce, broadcast back onto
    // the vocab
    "dsir_logratio", "dsir_resample",
    // doc_logprob_heldout: the one-row (V, N) train-LM stats reduce,
    // broadcast twice (word scores + the OOV floor constant)
    "doc_logprob_heldout",
    // q11_important_parts: the one-row nation-total reduce, broadcast
    // back as the HAVING scalar (the q15 contract)
    "q11_important_parts",
    // dedup_pr_curve: the one-row truth-total reduce over the (tiny)
    // verified pair set, cross-joined with the ≤11-row threshold axis
    "dedup_pr_curve")

  // Queries whose plan legitimately contains a BroadcastNestedLoopJoin,
  // each with a bounded-size argument. BNLJ is the third classic
  // scale-killer (after cartesians and global single partitions): a
  // range-predicate join that misses its equi-key rewrite silently
  // plans as stream-side × broadcast-side with no hash lookup. It is
  // only acceptable when the BROADCAST side is provably O(1) rows —
  // e.g. a one-row stats frame cross-joined back onto data.
  private val bnljOk = Set(
    // ann_* brute/batch/int8/lsh: the BROADCAST side is the query
    // batch, hard-capped at a constant row count (`< 500` id cap,
    // itself machine-checked by the broadcast-cap spec below) — the
    // corpus side streams once past the constant-size build side,
    // which is exactly the scan-shaped plan brute-force retrieval
    // wants; the candidate-bucketed variants (ivf/indexed) carry
    // equi-keys and plan hash joins instead
    "ann_cosine_topk", "ann_batch_topk", "ann_int8_topk", "ann_lsh_topk",
    // curriculum_order: the broadcast side is the score HISTOGRAM,
    // ≤ 10001 rows by domain construction (same bound as its
    // SinglePartition allowlist entry)
    "curriculum_order",
    // skew_report: the one-row grand-total frame cross-joined back
    // onto the per-key counts
    "skew_report",
    // api_report_list: the one-row total_count frame cross-joined onto
    // the ≤ page·limit result page
    "api_report_list",
    // tfidf_top_terms / rarity_score / mix_token_budget / user_rfm /
    // bm25_topk: one-row corpus-stats frames cross-joined back (the
    // same bounded reduces allowlisted for SinglePartition above)
    "tfidf_top_terms", "rarity_score", "mix_token_budget",
    "user_rfm", "bm25_topk",
    // doc_logprob (and logprob_cutoffs on top of it): the one-row
    // token-total frame cross-joined onto the vocab (then a hash join
    // back to (doc, word) counts)
    "doc_logprob", "logprob_cutoffs",
    // bloom_prune_join: the one-row bloom frame (constant kilobytes)
    // cross-joined across the fact — the runtime-filter broadcast
    "bloom_prune_join",
    // basket_affinity / revenue_concentration / revenue_gini: one-row
    // totals frames cross-joined back (the skew_report contract)
    "basket_affinity", "revenue_concentration", "revenue_gini",
    // hard_negatives: the broadcast side is the id-capped query batch
    // (same constant-size contract as ann_batch_topk)
    "hard_negatives",
    // dn_retention: the one-row cohort-size frame cross-joined onto
    // the ≤|offsets|-row retention table
    "dn_retention",
    // vocab_coverage: the one-row corpus-total frame cross-joined onto
    // the bounded top-terms curve
    "vocab_coverage",
    // trending_terms: the one-row midpoint frame cross-joined across
    // the corpus scan (runtime-filter-style constant broadcast)
    "trending_terms",
    // open_order_aging: the one-row as-of frame cross-joined across
    // the open-order scan
    "open_order_aging",
    // source_lang_chi2: domain-bounded row×column grid cross join
    // (|sources|·|langs| rows) + the one-row totals frame
    "source_lang_chi2",
    // ann_recall_report: both sides' broadcast is the id-capped query
    // batch (< 500 — the ann_batch_topk contract, twice)
    "ann_recall_report",
    // retrieval_eval: the broadcast is the id-capped query batch
    // (< 500, the ann_batch_topk contract) — once for the scored scan,
    // once (projected) for the corpus-relevance totals
    "retrieval_eval",
    // ann_drift_report: the same shape over the aged IVF index — the
    // broadcasts are the 16-row codebook and the id-capped query
    // batch (< 500), both constant-size at any corpus
    "ann_drift_report",
    // benford_totalprice: the one-row total frame cross-joined onto
    // the constant 9-row digit table
    "benford_totalprice",
    // ccnet_buckets: doc_logprob's one-row token-total frame
    "ccnet_buckets",
    // source_kl / dsir_logratio (+ its resample consumer): one-row
    // corpus-stats frames cross-joined onto the vocab (the
    // doc_logprob contract)
    "source_kl", "dsir_logratio", "dsir_resample", "doc_logprob_heldout",
    // q11_important_parts: the one-row total frame cross-joined onto
    // the per-part values (the skew_report contract)
    "q11_important_parts",
    // dedup_pr_curve: the one-row truth total cross-joined onto the
    // pair set (pairs, not docs — already candidate-bounded)
    "dedup_pr_curve",
    // hll_overlap: the T×T pair grid is a cross of the T-row sketch
    // frame (domain-bounded — the source_lang_chi2 contract)
    "hll_overlap")

  // Queries whose plan legitimately contains a Coalesce(1), each with
  // a bounded-size argument. Coalesce(1) is the fourth scale-killer
  // shape (it serializes a whole stage through one task WITHOUT even
  // showing up as an Exchange) — acceptable only on provably bounded
  // row sets:
  //  - api_paginate / api_report_list: rn assignment on the
  //    ≤ page·limit-row TakeOrdered result — the single partition
  //    holds one page, never data
  private val coalesceOneOk = Set("api_paginate", "api_report_list")
  // "Coalesce 1" not followed by another digit (don't match Coalesce 16)
  private val coalesceOne = "Coalesce 1(?![0-9])".r

  test("no gate query plans a cartesian product or an unbounded single partition") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("Exchange SinglePartition") && !singlePartitionOk(name))
        offenders += s"$name: Exchange SinglePartition"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljOk(name))
        offenders += s"$name: BroadcastNestedLoopJoin"
      if (coalesceOne.findFirstIn(plan).nonEmpty && !coalesceOneOk(name))
        offenders += s"$name: Coalesce(1)"
    }
    assert(offenders.isEmpty, s"scale-shape violations:\n${offenders.mkString("\n")}")
  }

  test("corpus-derived stand-in broadcast sides carry a constant-size id cap") {
    // These queries derive their "small side" (benchmark grams,
    // benchmark vectors, query batch) from a mod-slice of the corpus
    // itself. A bare mod slice is a fixed FRACTION of the corpus, so
    // without a cap the broadcast build side would grow with SF; the
    // id cap (`< 500`) keeps it constant-size at any scale factor.
    // AQE off so executedPlan is the raw physical tree and the
    // BroadcastExchange subtrees are collectable.
    // (corpus_curated is not here: its one-pass form folds
    // contamination into the gram window — no broadcast side exists;
    // its bench cap is a row-local predicate, asserted by its own
    // scan-count spec)
    val capped = Seq("decontaminate", "decontaminate_semantic", "ann_batch_topk",
      "corpus_keep_list", "contamination_report", "ann_drift_report",
      "retrieval_eval")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      capped.foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        val broadcasts = plan.collect {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
        }
        assert(broadcasts.nonEmpty, s"$name: expected a broadcast build side")
        // the cap must sit INSIDE a broadcast subtree (the corpus side
        // carries only the negated form inside a NOT). When the build
        // side is a ReusedExchange (the bench frame feeds both the
        // broadcast and another aggregate, e.g. contamination_report's
        // per-item totals), the subtree prints without its origin's
        // predicates — accept the cap anywhere in the full plan then,
        // since the reuse guarantees both consumers share the capped
        // exchange.
        assert(broadcasts.exists(b => b.toString.contains("< 500") ||
            (b.toString.contains("ReusedExchange") &&
              plan.toString.contains("< 500"))),
          s"$name: no id cap on any broadcast side:\n${broadcasts.map(_.toString).mkString("\n")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("star queries broadcast their dimension sides") {
    // The positive half of the scale discipline: the guard above bans
    // the bad shapes; this pins the GOOD one — every TPC-H-shaped
    // star query must hash-broadcast its (hinted) dimension chain, so
    // the fact side is pruned in its scan stage instead of shuffling
    // to meet a dim. `broadcast()` hints make this SF-independent.
    val starKeys = Seq("q3_top_revenue", "q5_region_revenue",
      "q7_nation_volume", "q8_market_share", "q9_profit_nation",
      "q10_returned_items", "q14_promo_revenue", "q17_small_qty",
      "q19_bracket_revenue")
    starKeys.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: no BroadcastHashJoin in plan:\n$plan")
    }
  }

  test("two-level assignment plans as one compiled expression: no join, no CASE") {
    // the coarse-then-fine argmin is one expression over broadcast
    // books; neither the per-cell CASE fan-out nor a books join may
    // come back into the optimised plan
    val plan = SparkEntry.queries("ivf_assign_twolevel")(spark, sfDir)
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val joins = plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.isEmpty, s"join in the two-level assignment plan:\n$plan")
    assert(!exprs.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.CaseWhen]),
      s"CASE in the two-level assignment plan:\n$plan")
    assert(exprs.exists(_.isInstanceOf[plans.TwoLevelAssignExpr]),
      s"no two_level_assign in the plan:\n$plan")
  }

  // Code part of a source line: block-comment lines and `//` tails
  // dropped, so the source guards below ignore prose.
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) "" else line.split("//", 2)(0)
  }

  /** (path relative to `root`, 1-based line number, code) of every line
    * of every .scala file under `root`. */
  private def sourceLines(root: java.nio.file.Path): Seq[(String, Int, String)] = {
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: no $root")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.map {
          case (line, i) => (root.relativize(p).toString, i + 1, code(line))
        }
      }
  }

  test("src/main opens parquet only through Tables.parquet") {
    // The read-path guard, same spirit as the plan guards: an inferring
    // `spark.read.parquet` costs a whole Spark job per open (the footer
    // read), so every parquet open in the library goes through
    // Tables.parquet, whose Spark fallback is the one allowed call.
    val calls = sourceLines(java.nio.file.Paths.get("src/main/scala/graft")).collect {
      case (f, n, c) if c.contains(".read.parquet(") => s"$f:$n"
    }
    val (helper, others) = calls.partition(_.startsWith("sources/Tables.scala:"))
    assert(others.isEmpty, s"parquet opened outside Tables.parquet: ${others.mkString(", ")}")
    assert(helper.size === 1, s"Tables.scala should call spark.read.parquet once: $helper")
  }

  test("src/main builds sessions only in GraftSession and awaits gate streams only in streamOnce") {
    // One session factory: every main gets the same confs from
    // GraftSession.local. One way to run a gate stream: SparkEntry's
    // streamOnce is the only place that starts and awaits one.
    val src = sourceLines(java.nio.file.Paths.get("src/main/scala"))
    val builders = src.collect {
      case (f, n, c) if c.contains("SparkSession.builder") => s"$f:$n"
    }
    assert(builders.nonEmpty && builders.forall(_.startsWith("graft/GraftSession.scala:")),
      s"SparkSession.builder outside GraftSession: ${builders.mkString(", ")}")
    val entry = src.filter(_._1 == "graft/SparkEntry.scala")
    val start = entry.indexWhere(_._3.contains("private def streamOnce"))
    assert(start >= 0, "SparkEntry.streamOnce not found")
    // the helper ends where the next two-space-indented member begins
    val end = entry.indexWhere(l => l._3.matches("  [a-z/].*"), start + 1)
    val awaits = entry.zipWithIndex.collect {
      case ((_, n, c), i) if c.contains("awaitTermination(") => (n, i > start && i < end)
    }
    assert(awaits.nonEmpty && awaits.forall(_._2),
      s"awaitTermination outside streamOnce at SparkEntry.scala lines ${awaits.filterNot(_._2).map(_._1).mkString(", ")}")
  }

  test("one day-close driver: one order-key check, flatMapGroupsWithState in four members") {
    // The eleven indicator streams run on StreamingRollups.dayClose; a
    // stream that forks its own day-close loop brings back a copy of the
    // order-key require and a flatMapGroupsWithState call of its own.
    val src = sourceLines(java.nio.file.Paths.get("src/main/scala"))
    val checks = src.collect {
      case (f, n, c) if c.contains("12-digit order-key domain") => s"$f:$n"
    }
    assert(checks.size === 1, s"order-key domain check at: ${checks.mkString(", ")}")
    // a call's owner is the nearest member `def` above it in its file
    val member = """^  (?:private )?def (\w+)""".r
    val owners = src.zipWithIndex.collect {
      case ((f, n, c), i) if c.contains("flatMapGroupsWithState[") =>
        val owner = src.take(i).reverseIterator.filter(_._1 == f)
          .flatMap(l => member.findFirstMatchIn(l._3)).map(_.group(1))
          .nextOption().getOrElse("?")
        s"$f:$owner"
    }
    val allowed = Seq("dayClose", "sessionize", "sessionizeEventTime", "transitions")
      .map(m => s"graft/streaming/StreamingRollups.scala:$m")
    assert(owners.sorted === allowed.sorted,
      s"flatMapGroupsWithState outside the day-close driver and the sessionizers: $owners")
  }

  test("gate artifacts build once: no ensureDir rewrite, no ensureTable stream restart") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val q = SparkEntry.queries
    // ensureDir: a second build of the aged IVF index leaves every file
    // under its assigned/ lists as it was (a rebuild clears the dir and
    // writes new part files)
    val assigned = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_gate_ivf_incr_${SparkEntry.tag(sfDir)}", "assigned")
    def listing(): Map[String, Long] =
      java.nio.file.Files.walk(assigned).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => assigned.relativize(p).toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    q("ann_ivf_incremental")(spark, sfDir)
    val first = listing()
    assert(first.nonEmpty)
    q("ann_ivf_incremental")(spark, sfDir)
    assert(listing() === first)
    // ensureTable: a second build of a memory-sink stream view starts no
    // streaming query (onQueryStarted runs before start() returns)
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    q("ohlc_stream_ingested")(spark, sfDir)
    spark.streams.addListener(listener)
    try {
      q("ohlc_stream_ingested")(spark, sfDir)
      assert(started.get === 0)
      // control: once its view is gone, the same call streams again
      spark.catalog.dropTempView(s"g_gate_ohlc_stream_${SparkEntry.tag(sfDir)}")
      q("ohlc_stream_ingested")(spark, sfDir)
      assert(started.get === 1)
    } finally spark.streams.removeListener(listener)
  }
}
