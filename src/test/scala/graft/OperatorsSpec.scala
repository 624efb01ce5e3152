package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators._
import graft.functions.TextAnalysis

/** Per-operator behavior specs on sf0.001. The value-level oracle
  * check is the DuckDB gate (scripts/verify_local.py); these specs pin
  * semantics and invariants.
  */
class OperatorsSpec extends SparkSpec {

  private def orderSeries = Rollups.series(
    Tables.orders(spark, sfDir), "o_custkey", "o_orderdate", "o_totalprice")

  test("rollup grains have the reference period_key/agg_type shape") {
    val m = Rollups.monthly(orderSeries)
    assert(m.columns.toSet === Set("period_key", "agg_type", "entity_id",
      "avg_value", "sum_value", "max_value", "min_value", "std_value", "cnt_value"))
    val row = m.filter(col("cnt_value") > 1).head()
    assert(row.getAs[String]("agg_type") === "month")
    assert(row.getAs[String]("period_key").matches("\\d{4}-\\d{2}"))
    assert(row.getAs[Double]("max_value") >= row.getAs[Double]("min_value"))
  }

  test("rollup avg_value rounds half away from zero for signed series") {
    import spark.implicits._
    import java.sql.Timestamp
    // sum=-0.01 over n=2 → avg=-0.005, the exact negative half-case:
    // truncate-toward-zero div gives -0.0049, floor div -0.0050-1ulp;
    // the sign-split identity gives the HALF_UP-away-from-zero -0.005
    val ts = Timestamp.valueOf("2024-03-05 00:00:00")
    val df = Seq(
      (1L, ts, 0.24), (1L, ts, -0.25),            // sum -0.01, n=2
      (2L, ts, 0.25), (2L, ts, 0.0)               // positive mirror
    ).toDF("entity_id", "ts", "value")
    val m = Rollups.monthly(df).orderBy("entity_id").collect()
    assert(m(0).getAs[Double]("avg_value") === -0.005)
    assert(m(1).getAs[Double]("avg_value") === 0.125)
  }

  test("combined rollup = daily+monthly+yearly ids, deduplicated") {
    val s = orderSeries
    val c = Rollups.combined(s)
    val types = c.select("agg_type").distinct().collect().map(_.getString(0)).toSet
    assert(types === Set("day", "month", "year"))
    assert(c.count() === c.distinct().count())
  }

  test("normalize defaults missing columns and zeroes nulls/NaN") {
    import spark.implicits._
    val df = Seq((1L, Some(Double.NaN)), (2L, None), (3L, Some(2.5)))
      .toDF("id", "v")
    val out = Rollups.normalize(df, Seq("v", "absent"))
    val rows = out.orderBy("id").collect()
    assert(rows.map(_.getAs[Double]("v")).toSeq === Seq(0.0, 0.0, 2.5))
    assert(rows.forall(_.getAs[Double]("absent") === 0.0))
  }

  test("api surface: pagination is deterministic and point lookup pushes down") {
    val cust = Tables.customer(spark, sfDir)
    val p1 = ApiSurface.paginate(cust, 1, 9).collect()
    val p2 = ApiSurface.paginate(cust, 2, 9).collect()
    assert(p1.length === 9 && p2.length === 9)
    assert(p1.map(_.getAs[Long]("c_custkey")).toSet
      .intersect(p2.map(_.getAs[Long]("c_custkey")).toSet).isEmpty)
    val plan = ApiSurface.detail(Tables.part(spark, sfDir), 42L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("p_partkey"))
  }

  test("news transform truncates to token budget and derives category") {
    val out = TextPipeline.transform(Tables.documents(spark, sfDir))
    assert(out.filter(col("word_count") > TextPipeline.TokenLimit).count() === 0)
    assert(out.filter(col("summary_length") > TextPipeline.SummaryTokens).count() === 0)
    val cats = out.select("category").distinct().collect().map(_.getString(0)).toSet
    assert(cats.subsetOf(Set("market_news", "stock_news")))
  }

  test("financial metrics: safe division yields null only for zero revenue") {
    val out = Extraction.financialMetrics(
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir))
    assert(out.filter(col("revenue") =!= 0 && col("margin_ratio").isNull).count() === 0)
  }

  test("rupiah formatting matches the reference format") {
    import spark.implicits._
    val df = Seq(1234567.891, 0.0, -1234.5).toDF("x")
      .select(Extraction.rupiah(col("x")).as("r"))
    assert(df.collect().map(_.getString(0)).toSeq ===
      Seq("Rp 1.234.567,89", "Rp 0,00", "Rp -1.234,50"))
  }

  test("dedup_exact groups exact duplicates under the min doc_id") {
    import spark.implicits._
    val docs = Seq((1L, "a  b c"), (2L, "A b C"), (3L, "other text"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs).collect()
    assert(out.length === 2)
    val dup = out.find(_.getAs[Long]("dup_count") === 2).get
    assert(dup.getAs[Long]("canonical_doc_id") === 1L)
  }

  test("minhash LSH finds near-duplicates and skips unrelated docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),
      (2L, base + " tail"),                     // near-dup of 1
      (3L, "completely different content about spark query engines")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, k = 5, numPerm = 64, bands = 16, threshold = 0.5)
      .collect()
    assert(pairs.exists(r => r.getAs[Long]("a") === 1L && r.getAs[Long]("b") === 2L))
    assert(!pairs.exists(r => r.getAs[Long]("b") === 3L || r.getAs[Long]("a") === 3L))
  }

  test("label propagation converges on a long chain component") {
    import spark.implicits._
    // pure chain 1-2-3-...-12: diameter 11 — single-hop-per-iteration
    // propagation with 5 rounds would leave inconsistent fragments;
    // the pointer-jumping rounds must collapse it fully
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val docs = (1L to 14L).toDF("doc_id") // 13, 14 are edgeless singletons
    val out = Dedup.clusterPairs(pairs, docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    (1L to 12L).foreach(d => assert(out(d) === 1L, s"doc $d: ${out(d)}"))
    assert(out(13L) === 13L && out(14L) === 14L)
  }

  test("clusterPairs driver union-find path ≡ distributed propagation path") {
    import spark.implicits._
    // adversarial graph: a chain (diameter), a star, a cycle, duplicate
    // + reversed edges, a self-loop, plus edgeless singletons
    val pairs = (
      (1L until 20L).map(i => (i, i + 1)) ++          // chain 1..20
        Seq((30L, 31L), (30L, 32L), (30L, 33L)) ++    // star at 30
        Seq((40L, 41L), (41L, 42L), (42L, 40L)) ++    // cycle
        Seq((2L, 1L), (1L, 2L), (50L, 50L))           // reversed, dup, self-loop
      ).toDF("a", "b")
    val docs = (1L to 60L).toDF("doc_id")
    val viaDriver = Dedup.clusterPairs(pairs, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    val viaDistributed = Dedup.clusterPairsWith(pairs, docs, maxIter = 8,
      maxDriverEdges = 0L).collect() // gate 0: force distributed
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(viaDriver.toSeq === viaDistributed.toSeq)
    val byId = viaDriver.map(t => t._1 -> t._2).toMap
    (1L to 20L).foreach(d => assert(byId(d) === 1L))
    Seq(30L, 31L, 32L, 33L).foreach(d => assert(byId(d) === 30L))
    Seq(40L, 41L, 42L).foreach(d => assert(byId(d) === 40L))
    assert(byId(50L) === 50L && byId(55L) === 55L)
  }

  test("clusterPairs driver path is exact past the pointer-jump diameter bound") {
    import spark.implicits._
    // a 600-long chain exceeds the distributed path's 2^maxIter≈256
    // diameter coverage; the union-find path must still collapse it
    val pairs = (1L until 600L).map(i => (i, i + 1)).toDF("a", "b")
    val docs = (1L to 600L).toDF("doc_id")
    val out = Dedup.clusterPairs(pairs, docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    assert(out.forall(_._2 === 1L))
  }

  test("minhash clusters assign every doc the min reachable doc_id") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), (2L, base + " x"), (3L, base + " y"), // chain 1-2-3
      (7L, "entirely different content about columnar query execution engines")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashClusters(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out(1L) === 1L && out(2L) === 1L && out(3L) === 1L)
    assert(out(7L) === 7L) // singleton keeps itself
  }

  test("keep-best dedup keeps the highest-quality member of each cluster") {
    import spark.implicits._
    // doc 2 extends doc 1 with more words → higher length-driven
    // quality; keep-best must pick 2, NOT the min-id canonical 1
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),
      (2L, base + " plus extra tail"),
      (7L, "entirely different content about columnar query execution engines")
    ).toDF("doc_id", "text")
    val out = Dedup.keepBest(docs).collect()
      .map(r => r.getAs[Long]("cluster_id") -> (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_members"))).toMap
    assert(out(1L) === ((2L, 2L)), s"got $out")
    assert(out(7L) === ((7L, 1L)))
  }

  test("xml extraction handles attributes, absent tags, case-insensitive keys") {
    import spark.implicits._
    val df = Seq(
      """<root><Assets unit="IDR">500</Assets><Debt>200</Debt></root>""",
      """<root><Debt>9</Debt></root>""").toDF("payload")
    val out = df.select(
      Extraction.xmlValue(col("payload"), "Assets").as("assets"),
      Extraction.xmlValue(col("payload"), "Debt").as("debt")).collect()
    assert(out(0).getString(0) === "500" && out(0).getString(1) === "200")
    assert(out(1).getString(0) === "" && out(1).getString(1) === "9")
    val m = Seq(1).toDF("x").select(
      Extraction.safeGetKey(
        map(lit("TotalAssets"), lit("500")), "totalassets").as("v"))
    assert(m.head().getString(0) === "500")
  }

  test("simhash: identical docs at hamming 0, near dups found") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one more shared sentence about distributed query processing engines"
    val docs = Seq(
      (1L, base),
      (2L, base + " trailer"), // near-dup: one extra token out of ~31
      (3L, "totally unrelated words nothing in common with the others at all " +
        "different topic different vocabulary different everything entirely")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhash(docs, maxHamming = 12).collect()
    assert(pairs.exists(r => r.getAs[Long]("a") === 1L && r.getAs[Long]("b") === 2L))
  }

  test("simhash: block-combination banding equals chunk banding (both pigeonhole-exact)") {
    // the corpus-adaptive scheme switch must be invisible in the
    // output: both bandings feed the same exact hamming verify, and
    // both are pigeonhole-complete at maxHamming — so the pair sets
    // are identical on any corpus (the brute-force oracle's claim)
    val docs = sources.Tables.documents(spark, sfDir)
    val viaChunks = Dedup.simhashWith(docs, maxHamming = 3, combo = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaCombos = Dedup.simhashWith(docs, maxHamming = 3, combo = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaCombos === viaChunks)
    assert(viaChunks.nonEmpty)
  }

  test("simhash maxHamming=0 never flips to combo banding with corpus size") {
    // at h = 0 the combo scheme would pack 3 blocks of 22 bits into
    // 66 > 63 key bits — its require() must never be reachable through
    // the adaptive entry point: h = 0 is exact signature equality, so
    // the single-full-band chunk scheme is the right plan at ANY n.
    // 17k docs puts the corpus past the 16384 combo threshold.
    import spark.implicits._
    val docs = (0L until 17000L)
      .map(i => (i, s"short document number ${i / 2} repeated body text"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhash(docs, maxHamming = 0)
    // consecutive (2k, 2k+1) share text → identical signatures → found
    assert(pairs.filter(col("hamming") === 0).count() >= 8500L)
  }

  test("containment catches a short doc inside a long one that Jaccard LSH misses") {
    import spark.implicits._
    val short = "the quick brown fox jumps over the lazy dog near the river bank today"
    // the short doc verbatim inside ~6x unrelated wrapper text
    val filler = (1 to 6).map(i =>
      s"wrapper paragraph number $i about completely different subjects like " +
        "astronomy geology chemistry botany zoology meteorology and economics")
      .mkString(" ")
    val docs = Seq(
      (1L, short),
      (2L, s"$filler $short $filler"),
      (3L, "unrelated third document about maritime navigation and cartography")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, threshold = 0.8).collect()
    assert(cont.exists(r => r.getAs[Long]("a") === 1L && r.getAs[Long]("b") === 2L
      && r.getAs[Double]("containment") >= 0.95),
      s"expected (1,2) containment pair, got ${cont.mkString(", ")}")
    assert(!cont.exists(r => r.getAs[Long]("b") === 3L || r.getAs[Long]("a") === 3L))
    // the same pair is invisible to the Jaccard LSH path: J ≈ |A|/|B|
    // is far below the 8x8 band knee, so no band collides — which is
    // exactly why the containment operator exists
    val lsh = Dedup.minhashLsh(docs).collect()
    assert(!lsh.exists(r => r.getAs[Long]("a") === 1L && r.getAs[Long]("b") === 2L))
  }

  test("containment finds pairs at exactly the threshold (prefix-length boundary)") {
    import spark.implicits._
    // adversarial boundary case: with word-1 shingles both docs have
    // n=5 distinct tokens sharing exactly 4, so containment is exactly
    // 4/5 = threshold, and the one MISSED token is each doc's rarest
    // (df=1 vs df=2 for the shared four) — i.e. the single token a
    // floating-point-underflowed prefix of length ⌊0.99..⌋+1 = 1 would
    // consist of. The correct ⌊(1-0.8)·5⌋+1 = 2 prefix must also carry
    // one SHARED token, which is what generates the candidate.
    val docs = Seq(
      (1L, "alpha beta gamma delta unique1"),
      (2L, "alpha beta gamma delta unique2"),
      (3L, "wholly disjoint vocabulary entirely separate")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, k = 1, word = true, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0.8)),
      s"threshold-boundary pair missed: ${pairs.mkString(", ")}")
  }

  test("persisted containment index flags contained and containing batch docs") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS g_containment_idx")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val whDir = new java.io.File(wh, "g_containment_idx")
    if (whDir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(whDir)
    }
    val corpus = Tables.documents(spark, sfDir)
    Dedup.writeContainmentIndex(corpus, "g_containment_idx")
    // the longest corpus doc: its first 12 words arrive as a "new"
    // snippet (batch doc CONTAINED in the corpus), and the whole text
    // plus a long tail arrives as a wrapper (batch doc CONTAINING a
    // corpus doc) — both directions of the asymmetric check
    val longestRow = corpus.orderBy(col("n_chars").desc, col("doc_id")).limit(1)
      .select("doc_id", "text").collect().head
    val (longestId, longest) = (longestRow.getLong(0), longestRow.getString(1))
    val snippet = longest.split("\\s+").take(12).mkString(" ")
    val tail = (1 to 30).map(i => s"novel$i appended$i trailing$i").mkString(" ")
    val batch = Seq(
      (200001L, snippet),
      (200002L, s"$longest $tail"),
      (200003L, "entirely novel content about submarine volcano acoustics " +
        "monitoring stations recording eruption precursors"))
      .toDF("doc_id", "text")
    val hits = Dedup.containmentAgainstIndex(
      spark, "g_containment_idx", batch, corpus).collect()
    val flagged = hits.map(_.getAs[Long]("new_doc_id")).toSet
    assert(flagged.contains(200001L), s"snippet not flagged: ${hits.mkString(", ")}")
    assert(flagged.contains(200002L), s"wrapper not flagged: ${hits.mkString(", ")}")
    assert(!flagged.contains(200003L))
    // geometry drift and under-threshold checks are errors, not
    // silently-wrong results
    intercept[IllegalArgumentException] {
      Dedup.containmentAgainstIndex(spark, "g_containment_idx", batch, corpus, k = 3)
    }
    intercept[IllegalArgumentException] {
      Dedup.containmentAgainstIndex(spark, "g_containment_idx", batch, corpus,
        threshold = 0.5)
    }
    // the indexed pairs form: candidate join co-bucketed on the join
    // key plans zero exchanges, output identical to the direct form
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the PRODUCTION candidate join (not a copy — a drift in
      // containmentPairsIndexed's join keys must fail this assertion)
      val cand = Dedup.containmentCandidates(spark.table("g_containment_idx"))
      val plan = cand.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"persisted containment index candidate join should not shuffle:\n$plan")
      val indexed = Dedup.containmentPairsIndexed(spark, "g_containment_idx", corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val direct = Dedup.containmentPairs(corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(indexed === direct)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    // append lifecycle: after appending the batch, the indexed pair
    // join sees batch↔corpus pairs; the verify frame must cover the
    // appended ids (same contract as the minhash index append)
    Dedup.appendToContainmentIndex(batch, "g_containment_idx")
    val union = corpus.select("doc_id", "text").unionByName(batch)
    val afterAppend = Dedup.containmentPairsIndexed(spark, "g_containment_idx", union)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterAppend.contains((longestId, 200001L)),
      s"appended snippet pair missing: $afterAppend")
    assert(afterAppend.contains((longestId, 200002L)))
  }

  test("ann brute-force: nearest neighbor of a vector's own cluster label") {
    val out = Similarity.bruteForceTopK(Tables.embeddings(spark, sfDir), 0L, 20)
    val rows = out.collect()
    assert(rows.length === 20)
    // descending similarity
    val sims = rows.map(_.getAs[Double]("cos_sim"))
    assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    assert(sims.head <= 1.0001 && sims.last >= -1.0001)
  }

  test("ann lsh candidates are a subset-scored consistently with brute force") {
    val brute = Similarity.bruteForceTopK(Tables.embeddings(spark, sfDir), 0L, 20)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    val lsh = Similarity.lshTopK(Tables.embeddings(spark, sfDir), 0L, 20).collect()
    lsh.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      brute.get(id).foreach(b => assert(math.abs(b - r.getAs[Double]("cos_sim")) < 1e-9))
    }
  }

  test("multi-probe lsh recalls at least as much as single-bucket probing") {
    val emb = Tables.embeddings(spark, sfDir)
    val brute = Similarity.bruteForceTopK(emb, 0L, 20)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    def recall(h: Int): Double = {
      val got = Similarity.lshTopK(emb, 0L, 20, probeHamming = h)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      (got & brute).size.toDouble / brute.size
    }
    val r0 = recall(0)
    val r1 = recall(1)
    // on a structureless random corpus recall ≈ probed fraction, so
    // only monotonicity is assertable — multi-probe must dominate
    assert(r1 >= r0, s"multi-probe recall $r1 < single-probe $r0")
    val n0 = Similarity.lshTopK(emb, 0L, 20, probeHamming = 0).count()
    val n1 = Similarity.lshTopK(emb, 0L, 20, probeHamming = 1).count()
    assert(n1 >= n0 && n1 > 0, s"multi-probe candidates $n1 vs $n0")
  }

  test("quality/token/fingerprint invariants") {
    val docs = Tables.documents(spark, sfDir)
    val q = TextAnalysis.qualityScore(docs)
    assert(q.filter(col("quality") < 0 || col("quality") > 1).count() === 0)
    val t = TextAnalysis.tokenCount(docs)
    assert(t.filter(col("bpe_tokens") < col("ws_tokens")).count() === 0)
    val f = TextAnalysis.fingerprint(docs)
    assert(f.select("fp").distinct().count() === f.count()) // corpus is all-distinct
  }

  test("asof join picks the latest at-or-before right row, inclusive at ties") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: purchases at :10 and :30; clicks at :10 (tie → inclusive),
    // :20 (after first), :40 (after second), and user 2 has no purchase
    val events = Seq(
      (100L, 1L, t("2024-01-01 00:00:10"), 5.0, "purchase"),
      (101L, 1L, t("2024-01-01 00:00:30"), 9.0, "purchase"),
      (200L, 1L, t("2024-01-01 00:00:10"), 0.0, "click"),
      (201L, 1L, t("2024-01-01 00:00:20"), 0.0, "click"),
      (202L, 1L, t("2024-01-01 00:00:40"), 0.0, "click"),
      (203L, 2L, t("2024-01-01 00:00:15"), 0.0, "click")
    ).toDF("event_id", "user_id", "ts", "value", "event_type")
    val out = Temporal.asofJoin(events).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out === Map(200L -> 100L, 201L -> 100L, 202L -> 101L, 203L -> -1L))
  }

  test("asof join plans a single hash shuffle, never a range-condition join") {
    val plan = Temporal.asofJoin(Tables.events(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("range join counts the bounded follow window exactly once per pair") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // cust 1: orders on Jan 1, Feb 25, May 1 — 90-day window of Jan 1
    // includes Feb 25 (bucket 2 months away) but not May 1; the
    // cross-month bucket explosion must not double count
    val orders = Seq(
      (1L, 1L, d("1995-01-01"), 10.0),
      (2L, 1L, d("1995-02-25"), 20.0),
      (3L, 1L, d("1995-05-01"), 40.0),
      (4L, 2L, d("1995-01-15"), 7.0)
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val out = Temporal.rangeJoinOrders(orders, 90).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) === ((2L, 30.0))) // itself + Feb 25; May 1 > Apr 1 excluded
    assert(out(2L) === ((2L, 60.0))) // itself + May 1 (65 days later)
    assert(out(3L) === ((1L, 40.0)))
    assert(out(4L) === ((1L, 7.0)))
  }

  test("asof tolerance nulls stale matches but keeps the fresh ones") {
    val ev = Tables.events(spark, sfDir)
    val loose = Temporal.asofJoin(ev)
      .filter(col("purchase_event_id").isNotNull).count()
    val tight = Temporal.asofJoinTolerance(ev, 12)
      .filter(col("purchase_event_id").isNotNull).count()
    assert(tight < loose)   // some matches are older than 12h
    assert(tight > 0)       // but not all
    // row count identical — tolerance nulls columns, never drops rows
    assert(Temporal.asofJoinTolerance(ev, 12).count() ===
      Temporal.asofJoin(ev).count())
  }

  test("bucketized pair range join agrees with the window range aggregation") {
    val orders = Tables.orders(spark, sfDir)
    val viaWindow = Temporal.rangeJoinOrders(orders, 90).collect().toSeq
    val intervals = orders.select(col("o_custkey").as("key"),
      col("o_orderkey").as("a_key"), col("o_orderdate").as("a_date"))
    val points = orders.select(col("o_custkey").as("key"),
      col("o_orderdate").as("b_date"), col("o_totalprice").cast("decimal(12,2)").as("b_val"))
    val viaJoin = Temporal.rangeJoinPairs(intervals, points, 90)
      .groupBy(col("a_key").as("o_orderkey"))
      .agg(count(lit(1)).as("n_window"),
        round(sum("b_val"), 2).cast("double").as("window_total"))
      .orderBy("o_orderkey").collect().toSeq
    assert(viaJoin === viaWindow)
  }

  test("stratified sample is deterministic and respects per-stratum rates") {
    val docs = Tables.documents(spark, sfDir)
    val s1 = Sampling.stratified(docs).collect()
    val s2 = Sampling.stratified(docs).collect()
    assert(s1.toSeq === s2.toSeq) // pure function of doc_id → identical
    val byLang = s1.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en kept at ~50%, others at ~20% (hash buckets are uniform-ish;
    // wide tolerance, the exactness is pinned by the DuckDB oracle)
    val enRate = byLang.getOrElse("en", 0).toDouble / total("en")
    assert(enRate > 0.3 && enRate < 0.7, s"en rate $enRate")
    val otherKept = byLang.filterNot(_._1 == "en").values.sum.toDouble
    val otherTotal = total.filterNot(_._1 == "en").values.sum.toDouble
    val otherRate = otherKept / otherTotal
    assert(otherRate > 0.08 && otherRate < 0.35, s"other rate $otherRate")
    assert(enRate > otherRate)
  }

  test("salted two-stage aggregation equals the plain aggregation") {
    val li = Tables.lineitem(spark, sfDir)
    val salted = Analytics.saltedAgg(li).collect().toSeq
    val plain = li.groupBy("l_returnflag")
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")), 2).cast("double").as("sum_price"),
        round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
      .orderBy("l_returnflag").collect().toSeq
    assert(salted === plain)
  }

  test("rank-based median picks the lower middle element deterministically") {
    import spark.implicits._
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, 1L, d("1995-01-01"), 10.0),
      (2L, 1L, d("1995-01-02"), 30.0),
      (3L, 1L, d("1995-01-03"), 20.0),
      (4L, 2L, d("1995-01-01"), 5.0),
      (5L, 2L, d("1995-01-02"), 6.0)
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val out = Analytics.medianByEntity(orders).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out(1L) === ((20.0, 3L))) // odd: true middle
    assert(out(2L) === ((5.0, 2L)))  // even: LOWER median, not interpolated 5.5
  }

  test("multimodal: stub decode produces fixed-width centered features") {
    val media = Multimodal.synthesize(Tables.documents(spark, sfDir), "doc_id", "text")
    val feats = Multimodal.extractFeatures(media)
    val row = feats.head()
    val v = row.getAs[scala.collection.Seq[Double]]("features")
    assert(v.length === 16)
    // mean-centered normalized histogram: sums to 0 (the simplex
    // centroid subtraction that un-biases the sign-projection phash)
    assert(math.abs(v.sum) < 1e-9)
    assert(v.exists(_ > 0) && v.exists(_ < 0))
    val frames = Multimodal.sampleFrames(media, stride = 8, frameLen = 8)
    assert(frames.count() > 0)
    assert(frames.columns.toSeq === Seq("media_id", "frame_idx", "frame"))
    // resize: adjacent-bin sums preserve total (centered) mass at half
    // the width
    val resized = Multimodal.resizeFeatures(feats, 2).head()
    val rv = resized.getAs[scala.collection.Seq[Double]]("features_resized")
    assert(rv.length === 8)
    assert(math.abs(rv.sum) < 1e-9)
  }

  test("zorder key interleaves bits; zordered files cover disjoint curve ranges") {
    import spark.implicits._
    // x=3 (0b11), y=1 (0b01): bit layout z = y1 x1 y0 x0 = 0 1 1 1 = 7
    val hand = Seq((3L, 1L)).toDF("x", "y")
      .select(graft.sources.Sinks.zorderKey(col("x"), col("y")).as("z"))
      .head().getLong(0)
    assert(hand === 7L)
    // layout property: every written file covers a disjoint z interval
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_test_zorder").toString
    graft.sources.Sinks.writeZOrdered(
      Tables.events(spark, sfDir).select("event_id", "user_id", "value")
        .withColumn("vb", floor(col("value")).cast("long")),
      path, "user_id", "vb", numFiles = 4)
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length > 1)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("z"), max("z")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlap: $ranges")
      case _ => ()
    }
  }

  test("zorder key REJECTS dimensions wider than 2^bits instead of aliasing") {
    import spark.implicits._
    // bits=4 → domain [0, 16); 16 would truncate onto 0's curve position
    val bad = Seq((16L, 1L)).toDF("x", "y")
      .select(graft.sources.Sinks.zorderKey(col("x"), col("y"), bits = 4).as("z"))
    val e = intercept[Exception](bad.head())
    assert(e.getMessage.contains("zorderKey") ||
      Option(e.getCause).exists(_.getMessage.contains("zorderKey")))
    // in-range max still works
    val ok = Seq((15L, 15L)).toDF("x", "y")
      .select(graft.sources.Sinks.zorderKey(col("x"), col("y"), bits = 4).as("z"))
      .head().getLong(0)
    assert(ok === 255L)
  }

  test("gate-artifact tag changes when the dataset is regenerated in place") {
    // the per-(session, data) artifact cache keys on tag(dir); a
    // testdata regeneration (same path, new bytes/mtime) MUST change
    // the tag so indexes rebuild instead of serving stale data
    val dir = java.nio.file.Files.createTempDirectory("graft_tag").toFile
    val f = new java.io.File(dir, "documents.parquet")
    java.nio.file.Files.write(f.toPath, Array.fill[Byte](64)(1))
    f.setLastModified(1700000000000L)
    val t0 = SparkEntry.tag(dir.toString)
    // regeneration: different size, different mtime
    java.nio.file.Files.write(f.toPath, Array.fill[Byte](128)(2))
    f.setLastModified(1700000005000L)
    val t1 = SparkEntry.tag(dir.toString)
    assert(t0 !== t1)
    // same path prefix in both — the tag stays path-scoped
    assert(t0.startsWith(dir.toString.replaceAll("[^A-Za-z0-9]", "_").toLowerCase))
    f.delete(); dir.delete()
  }

  test("multimodal exact dedup collapses byte-identical payloads to the lowest id") {
    import spark.implicits._
    val media = Seq(
      (1L, "image", Array[Byte](1, 2, 3)),
      (2L, "image", Array[Byte](1, 2, 3)),   // byte-identical re-upload
      (3L, "audio", Array[Byte](9, 9))
    ).toDF("media_id", "modality", "payload")
    val out = Multimodal.mediaExactDup(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(out === Map(
      1L -> ((1L, false)), 2L -> ((1L, true)), 3L -> ((3L, false))))
  }

  test("repetition stats: hand-checked counts and exact 4dp ratios") {
    import spark.implicits._
    val df = Seq((1L, "a b a b a"), (2L, "x y z w"), (3L, "q")).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // "a b a b a": 5 words, 2 distinct, bigrams (a b, b a, a b, b a) → top 2
    assert(out(1L).getAs[Long]("n_words") === 5L)
    assert(out(1L).getAs[Long]("n_distinct_words") === 2L)
    assert(out(1L).getAs[Long]("top_bigram_count") === 2L)
    assert(out(1L).getAs[Double]("dup_word_frac") === 0.6)
    assert(out(1L).getAs[Double]("top_bigram_frac") === 0.5)
    // all-distinct doc: zero dup fraction, every bigram unique
    assert(out(2L).getAs[Double]("dup_word_frac") === 0.0)
    assert(out(2L).getAs[Long]("top_bigram_count") === 1L)
    // single word: no bigrams at all
    assert(out(3L).getAs[Long]("top_bigram_count") === 0L)
    assert(out(3L).getAs[Double]("top_bigram_frac") === 0.0)
  }

  test("word n-grams: exact windows, too-short texts yield empty") {
    import spark.implicits._
    val df = Seq(("a b c d", 1L), ("a b", 2L)).toDF("text", "id")
    val out = df.select(col("id"),
        graft.plans.HashExprs.wordNgrams(col("text"), 3).as("g"))
      .collect().map(r => r.getAs[Long]("id") -> r.getSeq[String](1)).toMap
    assert(out(1L) === Seq("a b c", "b c d"))
    assert(out(2L) === Seq.empty)
  }

  test("pii scrub redacts every constructed phone/email and counts them") {
    val out = TextAnalysis.piiScrub(Tables.customer(spark, sfDir))
    val rows = out.collect()
    assert(rows.forall(_.getAs[Long]("n_phones") === 1L))
    assert(rows.forall(r =>
      r.getAs[Long]("n_emails") === (if (r.getAs[Long]("c_custkey") % 3 == 0) 1L else 0L)))
    assert(rows.forall(r => !r.getAs[String]("redacted")
      .matches(".*\\d{2}-\\d{3}-\\d{3}-\\d{4}.*")))
    assert(rows.forall(r => !r.getAs[String]("redacted").contains("@")))
    assert(rows.forall(r => r.getAs[String]("redacted").contains("<PHONE>")))
  }

  test("decontaminate flags only non-benchmark docs, benchmark stays clean") {
    val docs = Tables.documents(spark, sfDir)
    val out = Corpus.decontaminate(docs, n = 8, benchMod = 10).collect()
    assert(out.forall(_.getAs[Long]("doc_id") % 10 != 0))
    assert(out.forall(_.getAs[Long]("n_contaminated_grams") > 0))
  }

  test("vocab top-k is tf-descending with deterministic tie-break") {
    val out = Corpus.vocabTopK(Tables.documents(spark, sfDir), 50).collect()
    assert(out.nonEmpty && out.length <= 50)
    val pairs = out.map(r => (r.getAs[Long]("tf"), r.getAs[String]("word")))
    assert(pairs.sameElements(pairs.sortBy { case (tf, w) => (-tf, w) }))
    assert(out.forall(r => r.getAs[Long]("df") <= r.getAs[Long]("tf")))
  }

  test("margin rollup: levels are consistent and totals reconcile") {
    val out = Rollups.rollupMargins(Tables.orders(spark, sfDir)).collect()
    val byLvl = out.groupBy(_.getAs[Long]("lvl"))
    assert(byLvl.keySet === Set(0L, 1L, 3L))
    assert(byLvl(3L).length === 1)
    val grand = byLvl(3L).head.getAs[Long]("cnt")
    assert(byLvl(1L).map(_.getAs[Long]("cnt")).sum === grand)
    assert(byLvl(0L).map(_.getAs[Long]("cnt")).sum === grand)
  }

  test("forward fill densifies the month axis and carries the last sum") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-15", 10.0), (1L, "2024-01-20", 5.0), (1L, "2024-04-01", 7.0))
      .toDF("o_custkey", "d", "o_totalprice")
      .withColumn("o_orderdate", to_date(col("d")))
    val out = Rollups.fillForwardMonthly(df).collect()
      .map(r => (r.getAs[String]("month"), r.getAs[Double]("sum_value"), r.getAs[Boolean]("filled")))
    assert(out.toSeq === Seq(
      ("2024-01", 15.0, false), ("2024-02", 15.0, true),
      ("2024-03", 15.0, true), ("2024-04", 7.0, false)))
  }

  test("zscore flags the planted outlier and nothing else") {
    import spark.implicits._
    val rows = (1L to 20L).map(i => (i, 7L, 100.0 + (i % 3))) :+ ((21L, 7L, 10000.0))
    val df = rows.toDF("o_orderkey", "o_custkey", "o_totalprice")
    val out = Analytics.zscoreOutliers(df).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("o_orderkey") === 21L)
    assert(out.head.getAs[Double]("z") > 2.0)
  }

  test("tfidf ranks a document's rare term above its common term") {
    import spark.implicits._
    // "rare" appears in 1 of 3 docs, "common" in all 3; doc 1 has both
    val df = Seq(
      (1L, "rare common common"), (2L, "common other filler"), (3L, "common filler other"))
      .toDF("doc_id", "text")
    val out = Corpus.tfidfTopTerms(df, 2).collect()
      .filter(_.getAs[Long]("doc_id") == 1L)
      .sortBy(_.getAs[Int]("rn"))
    // rare: tf=1, df=1 → score 3; common: tf=2, df=3 → score 2
    assert(out.head.getAs[String]("word") === "rare")
    assert(out.head.getAs[Double]("tfidf") === 3.0)
    assert(out(1).getAs[String]("word") === "common")
    assert(out(1).getAs[Double]("tfidf") === 2.0)
  }

  test("content delta skips re-crawled duplicates that arrive under fresh ids") {
    import spark.implicits._
    val processed = Seq((10L, "alpha beta gamma"), (11L, "delta epsilon")).toDF("doc_id", "text")
    val incoming = Seq(
      (90L, "Alpha  beta   GAMMA"),   // same content modulo case/ws → not new
      (91L, "genuinely new content")).toDF("doc_id", "text")
    val out = TextPipeline.contentDelta(incoming, processed).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(91L))
  }

  test("retention cohorts: offset 0 is always full retention") {
    val out = Analytics.retentionCohorts(Tables.events(spark, sfDir)).collect()
    assert(out.nonEmpty)
    val zero = out.filter(_.getAs[Long]("offset_weeks") == 0L)
    // every user is by definition active in their own cohort week
    assert(zero.nonEmpty)
    assert(zero.forall(r =>
      r.getAs[Long]("active_users") === r.getAs[Long]("cohort_size")))
    assert(zero.forall(_.getAs[Double]("retention") === 1.0))
    assert(out.forall(r => r.getAs[Long]("active_users") <= r.getAs[Long]("cohort_size")))
  }

  test("multimodal chain: media → features → int8 quantize → ANN search") {
    // the media retrieval pipeline end-to-end (decode stubbed per the
    // brief): extract features per media row, quantize them for
    // storage, then similarity-search the feature space — asserting
    // the three stages' schemas actually compose
    val media = Multimodal.synthesize(
      Tables.documents(spark, sfDir).limit(64), "doc_id", "text")
    val feats = Multimodal.extractFeatures(media)
      .select(col("media_id").as("vec_id"),
        col("features").as("embedding"))
    val q = feats.select(col("vec_id"),
      graft.plans.HashExprs.quantizeI8(col("embedding")).as("q8"))
    assert(q.filter(size(col("q8")) > 0).count() === 64)
    val top = Similarity.bruteForceTopK(feats, feats.head().getAs[Long]("vec_id"), 5)
      .collect()
    assert(top.length === 5)
    assert(top.forall(r => r.getAs[Double]("cos_sim") <= 1.0 + 1e-9))
  }

  test("media near-dup closes a lightly-edited binary pair, not unrelated media") {
    import spark.implicits._
    // A and B: same byte distribution with a small edit (a re-encode /
    // light-edit stand-in); C: a differently-distributed payload
    val a = Array.tabulate(4096)(i => (i % 251).toByte)
    val b = a.clone(); (0 until 8).foreach(i => b(i * 100) = (b(i * 100) + 40).toByte)
    val c = Array.tabulate(4096)(i => (i % 97).toByte)
    val media = Seq((1L, "image", a), (2L, "image", b), (3L, "image", c))
      .toDF("media_id", "modality", "payload")
    val out = Multimodal.mediaNearDup(media)
    val pairs = out.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L)), s"near-identical pair not closed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated payload flagged: $pairs")
    // banded candidates, never all-pairs
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"media near-dup must not plan an all-pairs join:\n$plan")
    // cross-modality collisions are excluded by construction
    val mixed = Seq((1L, "image", a), (2L, "audio", a))
      .toDF("media_id", "modality", "payload")
    assert(Multimodal.mediaNearDup(mixed).count() === 0)
  }

  test("media phash: block-combination banding equals chunk banding (both pigeonhole-exact)") {
    // the corpus-adaptive scheme switch must be invisible in the
    // output — the simhash contract on the media column; exercised on
    // the gate corpus so real near-dup groups (shared payload + one
    // distinguishing byte per group of 20) are present
    val media = Multimodal.gateMedia(sources.Tables.documents(spark, sfDir))
    val viaChunks = Multimodal.mediaNearDupWith(media, maxHamming = 7, combo = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaCombos = Multimodal.mediaNearDupWith(media, maxHamming = 7, combo = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaCombos === viaChunks)
    assert(viaChunks.nonEmpty)
  }

  test("realistic media corpus: ~1.5% twins, schemes identical, twins found") {
    // the scaling-audit corpus (realisticMedia): unique payloads except
    // the ~1/67 twins (media_id - 3, media_id — same modality). Both
    // forced schemes must emit the identical pair set here too, and
    // the intended dup structure must actually be present: every
    // emitted pair is a (x, x+3) twin (unique payloads collide in
    // bands but fail the exact hamming verify), and most twins make
    // the hamming <= 7 cut (one distinguishing byte over 33).
    val media = Multimodal.realisticMedia(sources.Tables.documents(spark, sfDir))
    // maxHamming = 2, the audit keys' threshold: twins (one byte over
    // 33) land at <= 2; the accidental tail (biased sign bits over
    // near-uniform histograms) starts at 3+
    val viaChunks = Multimodal.mediaNearDupWith(media, maxHamming = 2, combo = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaCombos = Multimodal.mediaNearDupWith(media, maxHamming = 2, combo = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaCombos === viaChunks)
    assert(viaChunks.nonEmpty)
    // the CONSTRUCTED twins (y-3, y) for y % 67 == 3 must come out:
    // one distinguishing byte over 33 keeps hamming small, so near-all
    // survive the <= 7 cut — and they must be the MAJORITY of pairs
    // (accidental near-uniform-histogram collisions exist in both
    // engines identically, but a corpus where they dominate would
    // measure collision structure, not the intended ~1.5% dup rate)
    val ids = media.select("media_id").collect().map(_.getLong(0)).toSet
    val expectedTwins = ids.filter(y => y % 67 == 3 && ids(y - 3))
    val emittedTwins = viaChunks.collect {
      case (a, b, _) if b == a + 3 && b % 67 == 3 => b }
    assert(emittedTwins.size.toDouble >= 0.8 * expectedTwins.size,
      s"only ${emittedTwins.size} of ${expectedTwins.size} constructed twins found")
    assert(emittedTwins.size * 2 > viaChunks.size,
      s"accidental pairs dominate: ${viaChunks.size} total, ${emittedTwins.size} twins")
    // dup rate in the intended band (~1/67 of the corpus)
    val n = media.count().toDouble
    assert(expectedTwins.size / n > 0.005 && expectedTwins.size / n < 0.02,
      s"constructed dup rate ${expectedTwins.size / n} outside the realistic band")
  }

  test("media phash index records its banding scheme; probes and appends follow it") {
    import spark.implicits._
    // force the COMBO scheme at write time (comboThreshold = 0): the
    // incremental probe and the append must band their batches the way
    // the INDEX did — read from table properties, never re-decided
    val a = Array.tabulate(4096)(i => (i % 251).toByte)
    val b = a.clone(); (0 until 8).foreach(i => b(i * 100) = (b(i * 100) + 40).toByte)
    val corpus = Seq((1L, "image", a)).toDF("media_id", "modality", "payload")
    val table = "g_test_media_phash_combo"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(wh, table))
    Multimodal.writeMediaPhashIndex(corpus, table, comboThreshold = 0)
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.phash.scheme").contains("combo10"))
    // the edited re-upload is found against the combo-banded index
    val batch = Seq((2L, "image", b)).toDF("media_id", "modality", "payload")
    val hits = Multimodal.mediaNearDupAgainstIndex(spark, table, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits === Set((2L, 1L)))
    // append follows the recorded scheme too: the next check finds the
    // appended row (it would find nothing if the append banded 8x8)
    Multimodal.appendToMediaPhashIndex(
      Seq((5L, "image", a)).toDF("media_id", "modality", "payload"), table)
    val next = Multimodal.mediaNearDupAgainstIndex(spark, table, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(next === Set((2L, 1L), (2L, 5L)), s"appended row not matched: $next")
  }

  test("media phash index: batch-vs-index check matches the direct pair and stays novel-silent") {
    import spark.implicits._
    val a = Array.tabulate(4096)(i => (i % 251).toByte)
    val b = a.clone(); (0 until 8).foreach(i => b(i * 100) = (b(i * 100) + 40).toByte)
    val c = Array.tabulate(4096)(i => (i % 97).toByte)
    val corpus = Seq((1L, "image", a)).toDF("media_id", "modality", "payload")
    val table = "g_test_media_phash_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a previous JVM's managed-table directory survives the in-memory
    // catalog; saveAsTable refuses a fresh CREATE over it
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(wh, table))
    Multimodal.writeMediaPhashIndex(corpus, table)
    // a lightly-edited re-upload collides with the indexed original
    val batch = Seq((2L, "image", b), (3L, "image", c))
      .toDF("media_id", "modality", "payload")
    val hits = Multimodal.mediaNearDupAgainstIndex(spark, table, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits === Set((2L, 1L)))
    // an all-novel batch reports nothing
    val novel = Seq((4L, "image", c)).toDF("media_id", "modality", "payload")
    assert(Multimodal.mediaNearDupAgainstIndex(spark, table, novel).count() === 0L)
    // media takedown: tombstoning the indexed original silences the
    // re-upload check; compaction folds the delete into the band files
    spark.sql(s"DROP TABLE IF EXISTS ${table}_tombstones")
    rm(new java.io.File(wh, s"${table}_tombstones"))
    rm(new java.io.File(wh, s"${table}_compact_tmp"))
    Multimodal.deleteFromMediaPhashIndex(spark, table, Seq(1L).toDF("media_id"))
    assert(Multimodal.mediaNearDupAgainstIndex(spark, table, batch).count() === 0L)
    Multimodal.compactMediaPhashIndex(spark, table)
    assert(!spark.catalog.tableExists(s"${table}_tombstones"))
    assert(Multimodal.mediaNearDupAgainstIndex(spark, table, batch).count() === 0L)
    // append→check loop (after the takedown + compaction, so the whole
    // lifecycle is one chain): batch 1 re-ingests the original payload
    // and is appended; batch 2 (the lightly-edited copy) must now be
    // flagged against the APPENDED row by the next incremental check
    Multimodal.appendToMediaPhashIndex(
      Seq((5L, "image", a)).toDF("media_id", "modality", "payload"), table)
    val nextHits = Multimodal.mediaNearDupAgainstIndex(spark, table,
        Seq((6L, "image", b)).toDF("media_id", "modality", "payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nextHits === Set((6L, 5L)), s"appended payload not matched: $nextHits")
    // compaction must preserve the FULL (band, bucket, modality) bucket
    // spec the writer uses: a narrower rewrite would re-shuffle every
    // later indexed self-join on all three keys (the round-11 advice)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val banded = spark.table(table)
      val cand = banded.as("x")
        .join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.modality") === col("y.modality") &&
            col("x.media_id") < col("y.media_id"))
      val postPlan = cand.queryExecution.executedPlan.toString
      assert(!postPlan.contains("Exchange"),
        s"compaction broke the phash index bucket layout:\n$postPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("media phash index: indexed self-join matches direct and plans zero exchanges") {
    import spark.implicits._
    val a = Array.tabulate(4096)(i => (i % 251).toByte)
    val b = a.clone(); (0 until 8).foreach(i => b(i * 100) = (b(i * 100) + 40).toByte)
    val c = Array.tabulate(4096)(i => (i % 97).toByte)
    val corpus = Seq((1L, "image", a), (2L, "image", b), (3L, "image", c))
      .toDF("media_id", "modality", "payload")
    val table = "g_test_media_phash_self"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(wh, table))
    Multimodal.writeMediaPhashIndex(corpus, table)
    val indexed = Multimodal.mediaNearDupIndexed(spark, table)
    // value parity with the in-query pipeline over the same corpus
    val direct = Multimodal.mediaNearDup(corpus)
    assert(indexed.collect().toSeq === direct.collect().toSeq)
    assert(indexed.count() > 0)
    // the phash is INDEX-RESIDENT: candidate join + hamming verify
    // read only co-bucketed index files — zero exchanges with the
    // planner denied a broadcast (the minhash-index pin)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val banded = spark.table(table)
      val cand = banded.as("x")
        .join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.modality") === col("y.modality") &&
            col("x.media_id") < col("y.media_id"))
      val plan = cand.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"persisted phash self-join should not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("funnel respects event ORDER, not mere co-occurrence") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: purchase BEFORE any click → purchased=false
      (1L, t("2024-01-01 00:00:00"), "purchase"),
      (1L, t("2024-01-02 00:00:00"), "click"),
      // user 2: click then purchase within 3 days → converted
      (2L, t("2024-01-01 00:00:00"), "click"),
      (2L, t("2024-01-02 00:00:00"), "purchase"),
      // user 3: click then purchase after 3 days → purchased, not converted
      (3L, t("2024-01-01 00:00:00"), "click"),
      (3L, t("2024-01-10 00:00:00"), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val out = Analytics.funnel(ev).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Boolean]("purchased"), r.getAs[Boolean]("converted"))).toMap
    assert(out(1L) === ((false, false)))
    assert(out(2L) === ((true, true)))
    assert(out(3L) === ((true, false)))
  }

  test("l2 normalize yields unit vectors and passes zero vectors through") {
    import spark.implicits._
    val df = Seq((1L, Array(3.0f, 4.0f)), (2L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"),
        graft.plans.HashExprs.l2Normalize(col("embedding")).as("nv"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1)).toMap
    assert(math.abs(out(1L).map(x => x * x).sum - 1.0) < 1e-12)
    assert(out(1L) === Seq(0.6, 0.8))
    assert(out(2L) === Seq(0.0, 0.0))
  }

  test("quantile sketch tracks the exact quantiles") {
    val orders = Tables.orders(spark, sfDir)
    val r = Analytics.quantileSketch(orders).head()
    val vals = orders.select("o_totalprice").collect().map(_.getDouble(0)).sorted
    def exact(p: Double) = vals(math.min(vals.length - 1, (p * vals.length).toInt))
    for ((c, p) <- Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))) {
      val approx = r.getAs[Double](c)
      assert(math.abs(approx - exact(p)) / exact(p) < 0.02, s"$c: $approx vs ${exact(p)}")
    }
  }

  test("sketch gates emit exact deterministic columns with true in-bound flags") {
    val orders = Tables.orders(spark, sfDir)
    val g = Analytics.quantileSketchGate(orders).head()
    val vals = orders.select("o_totalprice").collect().map(_.getDouble(0)).sorted
    val n = vals.length
    // exact value at rank ceil(p*n), 1-based — the gate's rank rule
    def exactAt(num: Long, den: Long): Double =
      BigDecimal(vals(((n * num + den - 1) / den).toInt - 1))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(g.getAs[Long]("n") === n.toLong)
    assert(g.getAs[Double]("p50_exact") === exactAt(1, 2))
    assert(g.getAs[Double]("p90_exact") === exactAt(9, 10))
    assert(g.getAs[Double]("p99_exact") === exactAt(99, 100))
    for (c <- Seq("p50_in_bound", "p90_in_bound", "p99_in_bound"))
      assert(g.getAs[Boolean](c), s"$c false: sketch missed its rank bound")
    val h = Analytics.cardinalityGate(Tables.events(spark, sfDir)).head()
    assert(h.getAs[Boolean]("within_bound"))
  }

  test("hll cardinality sketch lands within its error bound") {
    val r = Analytics.cardinalityReport(Tables.events(spark, sfDir), rsd = 0.02).head()
    val exact = r.getAs[Long]("exact_users").toDouble
    val approx = r.getAs[Long]("approx_users").toDouble
    assert(math.abs(approx - exact) / exact < 0.06, s"exact=$exact approx=$approx")
  }

  test("text operators tolerate null and empty documents") {
    import spark.implicits._
    val df = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "ok text here"))
      .toDF("doc_id", "text")
    // none of these may throw (ANSI div-by-zero on empty docs is the trap)
    assert(TextAnalysis.repetition(df).count() === 3)
    assert(TextAnalysis.qualityScore(df).count() === 3)
    assert(TextAnalysis.fingerprint(df).count() === 3)
    assert(Corpus.vocabTopK(df).collect().map(_.getAs[String]("word")).toSet
      === Set("ok", "text", "here"))
    val rep = TextAnalysis.repetition(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rep(2L).getAs[Long]("n_words") === 0L)
    assert(rep(2L).getAs[Double]("dup_word_frac") === 0.0)
  }

  test("sequence packing offsets are the exact per-shard prefix sums") {
    val packed = Corpus.packSequences(Tables.documents(spark, sfDir), budgetTokens = 512)
      .collect()
    assert(packed.nonEmpty)
    packed.groupBy(r => (r.getAs[String]("lang"), r.getAs[Int]("shard")))
      .foreach { case (shard, rows) =>
        var expect = 0L
        rows.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
          assert(r.getAs[Long]("token_offset") === expect,
            s"offset not contiguous in shard $shard at doc ${r.getAs[Long]("doc_id")}")
          expect += r.getAs[Long]("n_tokens")
          assert(r.getAs[Long]("seq_first") === r.getAs[Long]("token_offset") / 512)
          assert(r.getAs[Long]("seq_last") >= r.getAs[Long]("seq_first"))
        }
      }
    // some shard holds several docs (the cumulative sum is exercised)
    assert(packed.exists(_.getAs[Long]("token_offset") > 0))
  }

  test("target-mix resampling rates follow the uniform-mix formula") {
    val docs = Tables.documents(spark, sfDir)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = before.values.sum
    val langs = before.size
    val out = Sampling.targetMix(docs).collect()
    assert(out.nonEmpty)
    val rates = out.map(r => r.getAs[String]("lang") -> r.getAs[Long]("rate_pct"))
      .toMap
    rates.foreach { case (lang, rate) =>
      assert(rate === math.min(100L, (100L * total) / (langs * before(lang))),
        s"rate for $lang")
    }
    // dominant languages get thinned, and no shard is emptied
    assert(rates.values.min < 100L)
    val sampledPerLang = out.groupBy(_.getAs[String]("lang")).map { case (l, rs) => l -> rs.length }
    rates.keys.foreach(l => assert(sampledPerLang.getOrElse(l, 0) > 0, s"$l sampled to zero"))
  }

  test("recency sample exercises the full decay curve, not just the floor") {
    val out = Sampling.recency(Tables.documents(spark, sfDir)).collect()
    assert(out.nonEmpty)
    val rates = out.map(_.getAs[Long]("rate_pct")).toSet
    // the default asOf must land inside the derived published range so
    // intermediate decay buckets (between 100 and the 10 floor) are
    // covered — an asOf past the range collapses every doc to the floor
    assert(rates.size >= 4, s"decay curve collapsed to $rates")
    assert(rates.contains(10L) && rates.exists(_ > 10L), rates.toString)
    // no document may be "from the future" relative to asOf: negative
    // ages truncate in Spark but floor in DuckDB, splitting the engines
    assert(out.forall(_.getAs[Long]("days_old") >= 0L))
  }

  test("leakage-safe split keeps every near-dup cluster in one split") {
    val out = Sampling.leakageSafeSplit(Tables.documents(spark, sfDir)).collect()
    assert(out.nonEmpty)
    // the invariant the operator exists for: one split per cluster
    out.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
      assert(rows.map(_.getAs[String]("split")).toSet.size === 1,
        s"cluster $cid straddles splits")
    }
    // all three splits materialize and train dominates
    val bySplit = out.groupBy(_.getAs[String]("split")).map { case (s, rs) => s -> rs.length }
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") + bySplit("test"))
  }

  test("bm25 retrieval ranks by saturated tf with idf weighting, scan-only plan") {
    import spark.implicits._
    // equal-length docs so only tf/df drive the ranking: "rare"
    // appears in one doc, "common" in three — the rare-term doc must
    // outrank a common-term doc with the same tf
    val docs = Seq(
      (1L, "rare pad pad pad"),
      (2L, "common pad pad pad"),
      (3L, "common common pad pad"),
      (4L, "common pad zzz yyy"),
      (5L, "pad pad pad pad")).toDF("doc_id", "text")
    val out = Corpus.bm25TopK(docs, query = "rare common", k = 10).collect()
    val ids = out.map(_.getAs[Long]("doc_id"))
    assert(ids.toSet === Set(1L, 2L, 3L, 4L), "only matching docs returned")
    val score = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_fp")).toMap
    assert(score(1L) > score(3L), "one rare hit outranks two common hits")
    assert(score(3L) > score(2L), "tf=2 outranks tf=1 for the same term")
    assert(score(2L) === score(4L), "same tf/dl ⇒ identical fixed-point score")
    // saturation: doubling tf must NOT double the score (k1 caps it)
    assert(score(3L) < 2L * score(2L), "tf term must saturate")
    // scale shape: no corpus shuffle anywhere — scans, a one-row
    // stats broadcast, and a TakeOrdered only
    val plan = Corpus.bm25TopK(Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bm25 must not shuffle the corpus:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered")
  }

  test("bm25 index probe matches the scan path and reads only its terms' buckets") {
    spark.sql("DROP TABLE IF EXISTS g_bm25_idx")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val whDir = new java.io.File(wh, "g_bm25_idx")
    if (whDir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(whDir)
    }
    val corpus = Tables.documents(spark, sfDir)
    Corpus.writeBm25Index(corpus, "g_bm25_idx")
    val direct = Corpus.bm25TopK(corpus).collect().toSeq
    val probe = Corpus.bm25FromIndex(spark, "g_bm25_idx").collect().toSeq
    assert(probe === direct, "indexed probe must reproduce the scan path bit-for-bit")
    // missing stats stamp is an error, not silently-wrong idf
    intercept[IllegalArgumentException] {
      spark.sql("CREATE TABLE IF NOT EXISTS g_bm25_bare (word STRING) USING parquet")
      try Corpus.bm25FromIndex(spark, "g_bm25_bare")
      finally spark.sql("DROP TABLE g_bm25_bare")
    }
    // scale shape: bucket pruning limits the scan to the terms'
    // buckets, the df window rides the bucket layout exchange-free,
    // and the only exchange is the candidate (doc_id) aggregation
    val plan = Corpus.bm25FromIndex(spark, "g_bm25_idx")
      .queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: (\\d) out of 8".r.findFirstMatchIn(plan)
      .exists(_.group(1).toInt <= 3), s"bucket pruning missing:\n$plan")
    val exchanges = "Exchange hashpartitioning\\(([a-z_#0-9L, ]+)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(exchanges.forall(_.startsWith("doc_id")),
      s"only the candidate agg may shuffle, got: $exchanges")
  }

  test("bm25 index append extends retrieval and restamps the corpus stats") {
    spark.sql("DROP TABLE IF EXISTS g_bm25_app")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val whDir = new java.io.File(wh, "g_bm25_app")
    if (whDir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(whDir)
    }
    val corpus = Tables.documents(spark, sfDir)
    // build on half the corpus, append the other half: the probe must
    // equal the scan path over the FULL corpus — df comes from the
    // posting rows (no maintenance), idf's N/avgdl from the restamp
    Corpus.writeBm25Index(corpus.filter(col("doc_id") % 2 === 0), "g_bm25_app")
    Corpus.appendToBm25Index(corpus.filter(col("doc_id") % 2 =!= 0), "g_bm25_app")
    val probe = Corpus.bm25FromIndex(spark, "g_bm25_app").collect().toSeq
    val direct = Corpus.bm25TopK(corpus).collect().toSeq
    assert(probe === direct, "post-append probe must equal the full-corpus scan path")
    // crash recovery: recomputing the stamp from the postings must
    // reproduce it exactly (every fixture doc has ≥1 token), and the
    // probe must be unchanged afterwards
    val stamped = spark.sql("SHOW TBLPROPERTIES g_bm25_app").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val (rn, rs) = Corpus.repairBm25Stats(spark, "g_bm25_app")
    assert(rn === stamped("graft.bm25.n").toLong)
    assert(rs === stamped("graft.bm25.s").toLong)
    assert(Corpus.bm25FromIndex(spark, "g_bm25_app").collect().toSeq === direct)
    // appending into a table writeBm25Index didn't stamp is an error
    intercept[IllegalArgumentException] {
      spark.sql("CREATE TABLE IF NOT EXISTS g_bm25_bare2 (word STRING) USING parquet")
      try Corpus.appendToBm25Index(corpus.limit(1), "g_bm25_bare2")
      finally spark.sql("DROP TABLE g_bm25_bare2")
    }
  }

  test("chunking overlaps by stride, covers every token once past each boundary") {
    import spark.implicits._
    // 40 words: chunk 0 = words 0..31, chunk 1 = words 24..39 (16
    // tokens); 30 words fit one window — the contained tail window
    // words 24..29 must NOT be emitted; empty doc yields nothing
    val w40 = (0 until 40).map(i => s"w$i").mkString(" ")
    val w30 = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, w40), (2L, w30), (3L, "")).toDF("doc_id", "text")
    val chunks = Corpus.chunkDocuments(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3))).toMap
    assert(chunks.keySet === Set((1L, 0L), (1L, 1L), (2L, 0L)))
    assert(chunks((1L, 0L))._1.startsWith("w0 w1 ") && chunks((1L, 0L))._2 === 32L)
    assert(chunks((1L, 1L))._1 === (24 until 40).map(i => s"w$i").mkString(" "))
    assert(chunks((1L, 1L))._2 === 16L)
    assert(chunks((2L, 0L))._2 === 30L)
    // overlap: the straddling passage w24..w31 appears whole in BOTH
    assert(chunks((1L, 0L))._1.endsWith("w30 w31"))
    assert(chunks((1L, 1L))._1.startsWith("w24"))
  }

  test("rarity score counts below-mean-frequency token mass, integer-exact") {
    import spark.implicits._
    // tf: common=6, rare=2 over v=2 words, total=8, ⌈mean⌉=4:
    // 'rare' is below the mean (2 < 4), 'common' is not (6 ≥ 4)
    val docs = Seq(
      (1L, "common common common rare"),
      (2L, "common common common rare")).toDF("doc_id", "text")
    val r = Corpus.rarityScore(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) === ((4L, 1L, 2500L)))
    assert(r(2L) === ((4L, 1L, 2500L)))
    // a uniform corpus has no below-mean word: rare mass is zero
    val flat = Seq((1L, "a a b b")).toDF("doc_id", "text")
    val fr = Corpus.rarityScore(flat).head()
    assert(fr.getLong(2) === 0L && fr.getLong(3) === 0L)
  }

  test("cluster stats conserve document mass and count real dup families") {
    val docs = Tables.documents(spark, sfDir)
    val stats = Dedup.clusterStats(docs).collect()
    assert(stats.map(r => r.getAs[Long]("n_docs")).sum === docs.count())
    // n_docs is definitionally size × clusters
    stats.foreach { r =>
      assert(r.getAs[Long]("n_docs") ===
        r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters"))
    }
  }

  test("temperature mix thins by inverse sqrt of language share, smallest keeps all") {
    val docs = Tables.documents(spark, sfDir)
    val natural = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = natural.values.min
    val rates = Sampling.temperatureMix(docs)
      .select("lang", "rate_pct").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // rate replays the closed form; the smallest language keeps 100%
    rates.foreach { case (lang, r) =>
      assert(r === math.floor(100.0 * math.sqrt(nMin.toDouble / natural(lang))).toLong)
    }
    assert(rates(natural.minBy { case (l, n) => (n, l) }._1) === 100L)
    // α=½ sits strictly between natural (α=1: no thinning) and
    // uniform (α=0: rate ∝ 1/n): for the largest language,
    // sqrt-thinning keeps MORE than full flattening would
    val (maxLang, maxN) = natural.maxBy(_._2)
    if (maxN > nMin) {
      val flat = 100L * nMin / maxN
      assert(rates(maxLang) > flat && rates(maxLang) < 100L)
    }
  }

  test("bpe training learns the hand-worked merges and encode replays them") {
    import spark.implicits._
    // vocab: low×2, lower×1. Pair counts iter 1: (l,o)=3, (o,w)=3,
    // (w,e)=1, (e,r)=1 — tie at 3 broken lexicographically → (l,o).
    // iter 2: (lo,w)=3. iter 3: (low,e)=1 vs (e,r)=1 → (e,r).
    // iter 4: (low,er)=1.
    val docs = Seq((1L, "low low lower"), (2L, "")).toDF("doc_id", "text")
    val merges = Corpus.bpeTrain(docs, nMerges = 4)
    assert(merges.map(m => (m.left, m.right, m.pairCount)) ===
      Seq(("l", "o", 3L), ("lo", "w", 3L), ("e", "r", 1L), ("low", "er", 1L)))
    // encode with the trained merges segments exactly as training left
    // the vocab: 'low'→[low], 'lower'→[low,er]→[lower] (merge 4
    // applied); empty text → 0 tokens
    val enc = Corpus.bpeEncodeDocs(docs, merges.map(m => (m.left, m.right)))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(enc(1L) === (("low low lower", 3L)))
    assert(enc(2L) === (("", 0L)))
  }

  test("bpe pair counts equal training's first iteration; merges never cross words") {
    val docs = Tables.documents(spark, sfDir)
    val top = Corpus.bpePairCounts(docs, k = 1).head()
    val first = Corpus.bpeTrain(docs, nMerges = 1).head
    assert((top.getString(0), top.getString(1), top.getLong(2)) ===
      ((first.left, first.right, first.pairCount)))
    import spark.implicits._
    // (a,b) is the dominant pair but 'a b' sits across a word
    // boundary — only the in-word occurrence may merge
    val bound = Seq((1L, "a b ab")).toDF("doc_id", "text")
    val enc = Corpus.bpeEncodeDocs(bound, Seq("a" -> "b")).head()
    assert(enc.getString(1) === "a b ab")
    assert(enc.getLong(2) === 3L)
    // consecutive pairs merge left-to-right non-overlapping in ONE
    // sweep: aaaa → [aa, aa], aaa → [aa, a]
    val run = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val enc2 = Corpus.bpeEncodeDocs(run, Seq("a" -> "a")).head()
    assert(enc2.getString(1) === "aa aa aa a")
    assert(enc2.getLong(2) === 4L)
    // rank order is strict: a merge whose parts only appear AFTER a
    // later merge ran does not get a second chance (training-time
    // convention — matches the nested-replace oracle exactly)
    val strict = Seq((1L, "abc")).toDF("doc_id", "text")
    val enc3 = Corpus.bpeEncodeDocs(strict, Seq("ab" -> "c", "a" -> "b")).head()
    assert(enc3.getString(1) === "ab c")
    // symbols are CODEPOINTS: an astral char (2 UTF-16 units) is one
    // symbol — never split into lone surrogates — in encode, in
    // training, and in the pair-count statistic alike
    val emoji = "😀" // 😀
    val astral = Seq((1L, s"x$emoji x$emoji")).toDF("doc_id", "text")
    val enc4 = Corpus.bpeEncodeDocs(astral, Seq("x" -> emoji)).head()
    assert(enc4.getString(1) === s"x$emoji x$emoji")
    assert(enc4.getLong(2) === 2L)
    val m = Corpus.bpeTrain(astral, nMerges = 1).head
    assert((m.left, m.right, m.pairCount) === (("x", emoji, 2L)))
    val pc = Corpus.bpePairCounts(astral, k = 1).head()
    assert((pc.getString(0), pc.getString(1), pc.getLong(2)) === (("x", emoji, 2L)))
  }

  test("bpe model roundtrips through disk preserving application order") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_bpe_model")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (dir.exists()) rm(dir)
    val docs = Tables.documents(spark, sfDir)
    val trained = Corpus.bpeTrain(docs, nMerges = 6)
    Corpus.writeBpeModel(spark, trained, dir.toString)
    val loaded = Corpus.loadBpeModel(spark, dir.toString)
    assert(loaded === trained.map(m => (m.left, m.right)))
    // encoding with the loaded model is byte-identical to the
    // in-memory merges — the artifact is the tokenizer
    assert(Corpus.bpeEncodeDocs(docs, loaded).collect().toSeq ===
      Corpus.bpeEncodeDocs(docs, trained.map(m => (m.left, m.right))).collect().toSeq)
    rm(dir)
  }

  test("written shards materialize the epoch order: file row order is pos order") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_shards_spec")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (dir.exists()) rm(dir)
    val docs = Tables.documents(spark, sfDir)
    graft.sources.Sinks.writeShards(docs, dir.toString, numShards = 4)
    // one data file per shard directory (the one-task-per-shard claim)
    (0 until 4).foreach { s =>
      val files = new java.io.File(dir, s"shard=$s").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"shard $s should be one file, got ${files.length}")
    }
    // raw FILE ORDER (no sort on read) must be the epoch's pos order,
    // and the shard's membership must match the logical order table
    val order = Sampling.trainShards(docs, numShards = 4).collect()
      .filter(_.getAs[Int]("shard") == 2)
      .sortBy(_.getAs[Long]("pos")).map(_.getAs[Long]("doc_id")).toSeq
    val read = spark.read.parquet(new java.io.File(dir, "shard=2").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(read === order, "file row order must replay the epoch permutation")
    rm(dir)
  }

  test("train shards: reproducible total order, seed reshuffles, contiguous positions") {
    val docs = Tables.documents(spark, sfDir)
    val e1 = Sampling.trainShards(docs).collect()
    val e1again = Sampling.trainShards(docs).collect()
    assert(e1.toSeq === e1again.toSeq) // pure function of (seed, doc_id)
    // every doc placed exactly once, shard within bounds
    assert(e1.length === docs.count())
    assert(e1.map(_.getAs[Long]("doc_id")).distinct.length === e1.length)
    assert(e1.forall { r => val s = r.getAs[Int]("shard"); s >= 0 && s < 8 })
    // positions are 1..n_s within each shard — concatenating shard
    // files in (shard, pos) order yields a gap-free epoch order
    e1.groupBy(_.getAs[Int]("shard")).foreach { case (s, rows) =>
      val ps = rows.map(_.getAs[Long]("pos")).sorted
      assert(ps.toSeq === (1L to rows.length).toSeq, s"shard $s positions not contiguous")
    }
    // a different seed is a genuinely different permutation: some doc
    // must land in a different (shard, pos) slot
    val e2 = Sampling.trainShards(docs, seed = 2).collect()
    val slot1 = e1.map(r => r.getAs[Long]("doc_id") -> ((r.getAs[Int]("shard"), r.getAs[Long]("pos")))).toMap
    val moved = e2.count(r => slot1(r.getAs[Long]("doc_id")) != ((r.getAs[Int]("shard"), r.getAs[Long]("pos"))))
    assert(moved > e1.length / 2, s"only $moved docs moved between epochs")
  }

  test("semantic decontamination flags near-copies of bench vectors, not orthogonal ones") {
    import spark.implicits._
    // vec_id % 10 == 0 → benchmark member. 11 ≈ bench vector 10 (one
    // perturbed dim); 12 is orthogonal to everything in the bench set
    val dim = 8
    val bench = Array.tabulate(dim)(i => if (i < 4) 1.0 else 0.0)
    val nearCopy = bench.clone(); nearCopy(0) = 0.9
    val ortho = Array.tabulate(dim)(i => if (i >= 4) 1.0 else 0.0)
    val df = Seq(
      (10L, bench.toSeq), (11L, nearCopy.toSeq), (12L, ortho.toSeq),
      (20L, Array.tabulate(dim)(i => if (i >= 4) -1.0 else 0.0).toSeq))
      .toDF("vec_id", "embedding")
    val out = Corpus.decontaminateSemantic(df, dim = dim, benchMod = 10, threshold = 0.8)
      .collect()
    val flagged = out.map(_.getAs[Long]("vec_id")).toSet
    assert(flagged === Set(11L), s"got $flagged")
    assert(out.head.getAs[Double]("max_cosine") > 0.95)
    // scale shape: the benchmark band side is broadcast — the corpus
    // (train) side must not be exchanged for the candidate join
    val plan = Corpus.decontaminateSemantic(
      Tables.embeddings(spark, sfDir)).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast bench bands:\n$plan")
  }

  test("corpus operator plans keep their scale shape") {
    val docs = Tables.documents(spark, sfDir)
    // decontaminate: benchmark grams broadcast — the corpus side must
    // never reach a shuffled (sort-merge) join
    val dec = Corpus.decontaminate(docs).queryExecution.executedPlan.toString
    assert(dec.contains("BroadcastHashJoin"), s"expected broadcast join:\n$dec")
    assert(!dec.contains("SortMergeJoin"), s"corpus side must not shuffle-join:\n$dec")
    // vocab: bounded top-k must be a TakeOrdered, never a global sort
    val voc = Corpus.vocabTopK(docs).queryExecution.executedPlan.toString
    assert(voc.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$voc")
    // self range aggregation: a window frame, not a join
    val rj = Temporal.rangeJoinOrders(Tables.orders(spark, sfDir), 90)
      .queryExecution.executedPlan.toString
    assert(rj.contains("Window") && !rj.contains("Join"),
      s"range aggregation must plan as a window, not a join:\n$rj")
    // tfidf: the UNTRIMMED vocabulary must never be broadcast (hapax
    // legomena make it billions of terms at web scale — a broadcast
    // kills the driver); df comes from a word-key window costing one
    // exchange of the tf table. A TRIMMED vocabulary (minDf ≥ 2,
    // bounded by Heaps' law) may opt back into the broadcast join.
    // autoBroadcast off so the small test table doesn't mask the
    // untrimmed plan shape.
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val untrimmed = Corpus.tfidfTopTerms(docs).queryExecution.executedPlan.toString
      assert(!untrimmed.contains("BroadcastHashJoin"),
        s"untrimmed vocabulary must not be broadcast:\n$untrimmed")
      // df comes from a word-key window: exactly one word exchange of
      // the tf table, and no df join at all
      assert("Exchange hashpartitioning\\(word".r.findAllIn(untrimmed).length === 1,
        s"untrimmed df must cost one word exchange:\n$untrimmed")
      assert(!untrimmed.contains("SortMergeJoin [word"),
        s"untrimmed path must not join a df table:\n$untrimmed")
      val trimmed = Corpus.tfidfTopTerms(docs, minDf = 2, broadcastVocab = true)
        .queryExecution.executedPlan.toString
      assert(trimmed.contains("BroadcastHashJoin"),
        s"trimmed vocabulary opts into the broadcast:\n$trimmed")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("tfidf minDf trims sub-threshold vocabulary") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta delta"), (3L, "alpha epsilon zeta"))
      .toDF("doc_id", "text")
    val out = Corpus.tfidfTopTerms(docs, k = 5, minDf = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("word"))).toSet
    // df: alpha=3, beta=2, everything else 1 → only alpha/beta survive
    assert(out === Set((1L, "alpha"), (1L, "beta"), (2L, "alpha"), (2L, "beta"), (3L, "alpha")))
    // untrimmed default keeps the hapax terms
    val all = Corpus.tfidfTopTerms(docs, k = 5)
      .collect().map(_.getAs[String]("word")).toSet
    assert(all.contains("gamma") && all.contains("zeta"))
  }

  test("dup_spans and strip_dup_spans shuffle the gram table exactly once, no broadcast") {
    val docs = Tables.documents(spark, sfDir)
    // the duplication test is a window over the gram key — the gram
    // table (≈ corpus tokens) is exchanged ONCE, and there is no
    // dup-set join to broadcast or re-shuffle at web scale
    def gramExchanges(plan: String): Int =
      "Exchange hashpartitioning\\(gk".r.findAllIn(plan).length
    // (the per-doc totals join on doc_id may broadcast its TINY hits
    // side — that one is size-based and shrinks with dedup selectivity;
    // only a gram-keyed join/broadcast would be a scale bug)
    val q = Dedup.dupSpans(docs).queryExecution.executedPlan.toString
    assert(gramExchanges(q) === 1, s"expected exactly one gram-key exchange:\n$q")
    assert(!q.contains("BroadcastHashJoin [gk"), s"no broadcast on the gram key:\n$q")
    val s = Dedup.stripDupSpans(docs).queryExecution.executedPlan.toString
    assert(gramExchanges(s) === 1, s"expected exactly one gram-key exchange:\n$s")
    assert(!s.contains("BroadcastHashJoin [gk"), s"no broadcast on the gram key:\n$s")
  }

  test("dup_spans counts cross-doc duplicated n-gram positions only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h x y"),   // grams: abcdefgh, bcdefghx, cdefghxy
      (2L, "z a b c d e f g h q"),   // shares the abcdefgh 8-gram with doc 1
      (3L, "p q r s t u v w m n"),   // no cross-doc gram
      (4L, "short doc"))             // < 8 words → zero grams
      .toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup_positions"),
          r.getAs[Double]("dup_frac")))).toMap
    assert(out(1L) === ((3L, 1L, 0.3333)))
    assert(out(2L) === ((3L, 1L, 0.3333)))
    assert(out(3L) === ((3L, 0L, 0.0)))
    assert(out(4L) === ((0L, 0L, 0.0)))
  }

  test("length_histogram buckets integer token counts with a cap") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", (1 to 10).map(_ => "w").mkString(" ")),   // 10 toks → bucket 0
      (2L, "en", (1 to 17).map(_ => "w").mkString(" ")),   // 17 → bucket 1
      (3L, "en", (1 to 200).map(_ => "w").mkString(" ")))  // 200 → capped bucket 8
      .toDF("doc_id", "lang", "text")
    val out = Corpus.lengthHistogram(docs).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("bucket_lo"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("total_tokens")))).toMap
    assert(out(0L) === ((0L, 1L, 10L)))
    assert(out(1L) === ((16L, 1L, 17L)))
    assert(out(8L) === ((128L, 1L, 200L)))
  }

  test("vocab_bigrams ranks the most frequent adjacent pair first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c"),      // bigrams: ab, ba, ab, bc
      (2L, "a b x"))          // ab, bx
      .toDF("doc_id", "text")
    val rows = Corpus.bigramTopK(docs, k = 3).collect()
    assert(rows.head.getAs[String]("gram") === "a b")
    assert(rows.head.getAs[Long]("tf") === 3L)
    assert(rows.head.getAs[Long]("df") === 2L)
  }

  test("curated scans the corpus at most twice and equals the composed operators") {
    val docs = Tables.documents(spark, sfDir)
    val cur = Corpus.curated(docs)
    // the one-pass shape: gram scan + document scan, nothing else —
    // the composed stripDupSpans ⋈ keepList form re-scans ~6×
    val plan = cur.queryExecution.executedPlan.toString
    val scans = "FileScan".r.findAllIn(plan).length
    assert(scans <= 2, s"curated plans $scans corpus scans")
    val composed = Dedup.stripDupSpans(docs)
      .join(Corpus.keepList(docs).filter(col("keep")).select("doc_id"), "doc_id")
      .select("doc_id", "kept_text", "n_tokens", "n_removed")
      .orderBy("doc_id")
    assert(cur.collect().toSeq === composed.collect().toSeq)
  }

  test("corpus_curated ships kept docs with span-deduped text, canonical owns its spans") {
    import spark.implicits._
    val t = (1 to 60).map(i => s"t$i").mkString(" ")            // quality, canonical
    val shared = (10 to 17).map(i => s"t$i").mkString(" ")       // an 8-gram of doc 1
    val other = shared + " " + (9 to 60).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, t), (2L, t), (3L, other)).toDF("doc_id", "text")
    val out = Corpus.curated(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("kept_text"), r.getAs[Long]("n_removed")))).toMap
    // doc 2 is the dropped exact duplicate; doc 1 owns every span it
    // shares (with doc 2 AND doc 3), so its text ships untouched
    assert(out.keySet === Set(1L, 3L))
    assert(out(1L) === ((t, 0L)))
    // doc 3 keeps its unique tail; the shared 8-gram is owned by doc 1
    assert(out(3L) === (((9 to 60).map(i => s"u$i").mkString(" "), 8L)))
  }

  test("corpus_drift classifies by content, so a re-crawled id counts as retained") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, "en", "kept article text one two three"),
      (2L, "en", "dropped article text four five six"),
      (3L, "de", "der alte artikel sieben acht neun"))
      .toDF("doc_id", "lang", "text")
    val newSnap = Seq(
      (10L, "en", "KEPT  Article text one two three"),  // same content, fresh id
      (11L, "en", "a brand new english article"),
      (12L, "en", "a brand new english article"))       // in-snapshot dup → one content
      .toDF("doc_id", "lang", "text")
    val out = TextPipeline.snapshotDrift(oldSnap, newSnap).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_added"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_retained"), r.getAs[Long]("tokens_added"),
          r.getAs[Long]("tokens_removed")))).toMap
    assert(out("en") === ((1L, 1L, 1L, 5L, 6L)))
    assert(out("de") === ((0L, 1L, 0L, 0L, 6L)))
  }

  test("strip_dup_spans keeps the canonical copy and merges overlapping spans") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h x y"),   // canonical owner of abcdefgh → untouched
      (2L, "z a b c d e f g h q"),   // loses tokens 1..8 → "z q"
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8 m9"),  // owner of both 9-word grams
      (4L, "m1 m2 m3 m4 m5 m6 m7 m8 m9"),  // two OVERLAPPING dup spans → ""
      (5L, "short doc"))             // no grams → untouched
      .toDF("doc_id", "text")
    val out = Dedup.stripDupSpans(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("kept_text"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_removed")))).toMap
    assert(out(1L) === (("a b c d e f g h x y", 10L, 0L)))
    assert(out(2L) === (("z q", 10L, 8L)))
    assert(out(3L) === (("m1 m2 m3 m4 m5 m6 m7 m8 m9", 9L, 0L)))
    assert(out(4L) === (("", 9L, 9L)))
    assert(out(5L) === (("short doc", 2L, 0L)))
  }

  private def sourceFixtureDocs = {
    import spark.implicits._
    // "bad" source: 3 copies of the same short (low-quality) text;
    // "good": distinct 60-word documents (quality 0.6, no dups)
    val longText = (1 to 60).map(i => s"tok$i").mkString(" ")
    Seq(
      (1L, "dup dup text here now", "bad", "en"),
      (2L, "dup dup text here now", "bad", "en"),
      (3L, "dup dup text here now", "bad", "en"),
      (4L, longText, "good", "en"),
      (5L, longText + " extra", "good", "en"))
      .toDF("doc_id", "text", "source", "lang")
  }

  test("source_reputation blocks low-quality / duplicate-heavy sources") {
    val rep = Corpus.sourceReputation(sourceFixtureDocs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val bad = rep("bad")
    assert(bad.getAs[Long]("n_dups") === 2L)       // docs 2,3 non-canonical
    assert(bad.getAs[Double]("dup_frac") === 0.6667)
    assert(bad.getAs[Double]("mean_quality") === 0.05)  // 5 words → 0.05
    assert(bad.getAs[Boolean]("blocked"))
    val good = rep("good")
    assert(good.getAs[Long]("n_dups") === 0L)
    assert(good.getAs[Double]("mean_quality") === 0.605) // (0.60+0.61)/2
    assert(!good.getAs[Boolean]("blocked"))
  }

  test("source_filter drops every document from a blocked source") {
    val kept = Corpus.filterBySource(sourceFixtureDocs)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(kept === Seq(4L, 5L))
  }

  test("incremental monthly rollup from day partials equals the direct grain") {
    val s = orderSeries
    val direct = Rollups.monthly(s).orderBy("entity_id", "period_key").collect()
    val merged = Rollups.monthlyFromDaily(Rollups.dailyPartials(s))
      .orderBy("entity_id", "period_key").collect()
    // value-identical, not approximately: the algebraic partials merge
    // exactly (decimal sums), so every derived stat matches to the bit
    assert(merged.length === direct.length)
    merged.zip(direct).foreach { case (m, d) => assert(m === d) }
  }

  test("persisted day partials rebuild one month partition-pruned, value-identical") {
    val s = orderSeries
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_test_partials").toString
    Rollups.writeDailyPartials(s, path)
    val direct = Rollups.monthly(s).orderBy("entity_id", "period_key").collect()
    val fromTable = Rollups.monthlyFromPartialsTable(spark, path)
      .orderBy("entity_id", "period_key").collect()
    assert(fromTable.length === direct.length)
    fromTable.zip(direct).foreach { case (a, b) => assert(a === b) }
    // month-scoped rebuild: the scan is partition-pruned to that month
    val m = direct.head.getAs[String]("period_key")
    val one = Rollups.monthlyFromPartialsTable(spark, path, Some(m))
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains(m),
      s"expected a month=$m partition filter in:\n$scan")
    val expected = direct.filter(_.getAs[String]("period_key") == m)
    val got = one.orderBy("entity_id").collect()
    assert(got.length === expected.length)
    got.zip(expected).foreach { case (a, b) => assert(a === b) }
    // COMPACTED layout: each month directory holds exactly one data
    // file (clustered write). Partials are tiny; a probe over 80
    // months × 32 fragments spends its time in file discovery and
    // loses to recomputing from raw — one file per partition is what
    // makes the persisted index cheaper than its recompute twin.
    val monthDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("month="))
    assert(monthDirs.nonEmpty)
    monthDirs.foreach { dir =>
      val dataFiles = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(dataFiles.length === 1,
        s"${dir.getName}: expected 1 compacted file, found ${dataFiles.length}")
    }
  }

  test("bucketed catalog partials merge is zero-exchange and value-identical") {
    val s = orderSeries
    val tbl = "test_partials_bkt"
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(wh, tbl)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    if (dir.exists()) rm(dir)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Rollups.writeDailyPartialsTable(s, tbl)
    val merged = Rollups.monthlyFromPartialsCatalog(spark, tbl)
    // shuffle-free: entity_id bucketing satisfies the (entity, month)
    // aggregate's clustering, so the plan carries NO Exchange at all —
    // the pay-the-shuffle-at-ingest contract, spec-pinned
    assert(!merged.queryExecution.executedPlan.toString.contains("Exchange"),
      merged.queryExecution.executedPlan.toString)
    val direct = Rollups.monthly(s).orderBy("entity_id", "period_key").collect()
    val got = merged.orderBy("entity_id", "period_key").collect()
    assert(got.length === direct.length)
    got.zip(direct).foreach { case (a, b) => assert(a === b) }
    // month-scoped probe off the same table, value-identical
    val m = direct.head.getAs[String]("period_key")
    val one = Rollups.monthlyFromPartialsCatalog(spark, tbl, Some(m))
      .orderBy("entity_id").collect()
    val expected = direct.filter(_.getAs[String]("period_key") == m)
    assert(one.length === expected.length)
    one.zip(expected).foreach { case (a, b) => assert(a === b) }
  }

  test("bpe budget truncation: within budget, maximal prefix, exact when untruncated") {
    // invariants hold for ANY merge list — use one unrelated to the
    // gate's so the spec isn't coupled to it
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "n", "i" -> "s")
    val budget = 16
    val docs = Tables.documents(spark, sfDir)
    val norm = graft.functions.TextAnalysis.normalizeWs(
      substring(col("text"), 1, TextPipeline.CharLimit))
    val out = TextPipeline.transformBpe(docs, merges, budget)
      .join(docs.select(col("doc_id"), norm.as("norm")), "doc_id")
      .withColumn("ws", split(col("norm"), " "))
      .withColumn("nw", size(split(col("content"), " ")))
    val checked = out.select(
      // the kept prefix fits the budget, exactly counted
      (col("n_tokens") <= budget).as("fits"),
      // untruncated ⟺ everything kept
      (!col("truncated") === (col("n_tokens") === col("n_tokens_full"))).as("exact_iff"),
      // content is a WORD prefix of the normalized text
      (col("content") === concat_ws(" ", slice(col("ws"), lit(1),
        when(col("content") === "", 0).otherwise(col("nw"))))).as("is_prefix"),
      // maximality: the next word would overflow the budget
      (!col("truncated") ||
        col("n_tokens") + graft.plans.HashExprs.bpeEncode(
          element_at(col("ws"),
            when(col("content") === "", 1).otherwise(col("nw") + 1)), merges)
          .getField("n_tokens") > budget).as("maximal"))
    val bad = checked.filter(
      !col("fits") || !col("exact_iff") || !col("is_prefix") || !col("maximal"))
    assert(bad.count() === 0, bad.head(3).mkString("\n"))
    // the budget actually bites on this corpus (non-vacuous spec)
    assert(TextPipeline.transformBpe(docs, merges, budget)
      .filter(col("truncated")).count() > 0)
  }

  test("persisted day sketches re-aggregate along any axis within the HLL bound") {
    val tbl = "test_hll_sketches"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(wh, tbl))
    val ev = Tables.events(spark, sfDir)
    Analytics.writeUserSketchRollup(ev, tbl)
    def exactBy(cols: org.apache.spark.sql.Column*): Map[Seq[Any], Long] =
      ev.groupBy(cols: _*).agg(countDistinct("user_id").as("x")).collect()
        .map(r => (0 until r.length - 1).map(r.get) -> r.getLong(r.length - 1)).toMap
    def near(approx: Long, exact: Long): Boolean =
      math.abs(approx - exact) <= 0.05 * exact
    // axis 1: collapse days per type
    val byType = Analytics.cardinalityFromSketches(spark, tbl).collect()
      .map(r => Seq(r.get(0)) -> r.getLong(1)).toMap
    val exactType = exactBy(col("event_type"))
    assert(byType.keySet === exactType.keySet)
    byType.foreach { case (k, a) => assert(near(a, exactType(k)), s"$k: $a vs ${exactType(k)}") }
    // axis 2: global total (every sketch merged)
    val total = Analytics.cardinalityFromSketches(spark, tbl, Nil).head().getLong(0)
    val exactTotal = ev.agg(countDistinct("user_id")).head().getLong(0)
    assert(near(total, exactTotal), s"$total vs $exactTotal")
    // axis 3: re-grain time — month cardinality from DAY sketches
    // (the merge exact daily counts cannot do: distincts don't add)
    val byMonth = spark.table(tbl)
      .groupBy(substring(col("day"), 1, 7).as("month"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))").as("a"))
      .collect().map(r => Seq(r.get(0)) -> r.getLong(1)).toMap
    val exactMonth = exactBy(date_format(col("ts"), "yyyy-MM"))
    assert(byMonth.keySet === exactMonth.keySet)
    byMonth.foreach { case (k, a) => assert(near(a, exactMonth(k)), s"$k: $a vs ${exactMonth(k)}") }
  }

  test("status lifecycle: pending view, monotone idempotent advance, partition upsert") {
    import spark.implicits._
    val status = Seq((1L, "extracted"), (2L, "transformed"), (3L, "loaded"))
      .toDF("doc_id", "status")
    val incoming = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    // pending-for-load: everything below "loaded"; unseen doc 4 is "new"
    val pending = Lifecycle.pendingWork(incoming, status, "loaded")
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(pending.toSeq === Seq(1L -> "extracted", 2L -> "transformed", 4L -> "new"))
    // a crashed-midway doc below the queried stage still shows as
    // pending for a LATER stage (generalized, not equality on one status)
    val pendingT = Lifecycle.pendingWork(incoming, status, "transformed")
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(pendingT.toSeq === Seq(1L, 4L))
    // advance is idempotent (replay-safe) and monotone (cannot regress)
    val batch = Seq(1L, 4L).toDF("doc_id")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val adv1 = Lifecycle.advance(status, batch, "transformed")
    assert(snap(adv1) === Seq(1L -> "transformed", 2L -> "transformed",
      3L -> "loaded", 4L -> "transformed"))
    assert(snap(Lifecycle.advance(adv1, batch, "transformed")) === snap(adv1))
    val regress = Lifecycle.advance(adv1, Seq(3L).toDF("doc_id"), "extracted")
    assert(snap(regress).find(_._1 == 3L).get._2 === "loaded")
    // persisted form: status-partitioned table, re-runnable upsert,
    // emptied partition directories actually disappear
    val path = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_test_status").toString
    Lifecycle.writeStatus(status, path)
    Lifecycle.upsertAdvance(spark, path, batch, "transformed")
    val after1 = snap(spark.read.parquet(path)
      .select(col("doc_id"), col("status").cast("string")))
    assert(after1 === Seq(1L -> "transformed", 2L -> "transformed",
      3L -> "loaded", 4L -> "transformed"))
    Lifecycle.upsertAdvance(spark, path, batch, "transformed") // replay
    assert(snap(spark.read.parquet(path)
      .select(col("doc_id"), col("status").cast("string"))) === after1)
    // doc 1 left "extracted" and no one remains: the directory is gone
    assert(!new java.io.File(path, "status=extracted").exists())

    // — CRASH WINDOWS: the partition swap is a staged commit (no crash
    // point deletes the last copy of a partition; recovery replays the
    // fold from the commit). Fresh scenario: (1 extracted,
    // 2 transformed) all advance to "loaded" — "loaded" is a BRAND-NEW
    // partition (the replay case that must not be mistaken for a
    // clear) and both source partitions empty out.
    val path2 = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_test_status_crash").toString
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    Seq("", "_upsert_tmp", "_upsert_commit", "_upsert_old")
      .foreach(sfx => rm(new java.io.File(path2 + sfx)))
    val status2 = Seq((1L, "extracted"), (2L, "transformed"))
      .toDF("doc_id", "status")
    val all = Seq(1L, 2L).toDF("doc_id")
    val expected = Seq(1L -> "loaded", 2L -> "loaded")
    def table2() = snap(spark.read.parquet(path2)
      .select(col("doc_id"), col("status").cast("string")))

    // crash between the commit rename and the fold: the table still
    // serves the OLD state; recovery rolls the commit forward
    Lifecycle.writeStatus(status2, path2)
    Lifecycle.stageUpsertAdvanceOnly(spark, path2, all, "loaded")
    assert(table2() === Seq(1L -> "extracted", 2L -> "transformed"),
      "staged-but-unfolded upsert already visible")
    Lifecycle.recoverUpsertAdvance(spark, path2)
    assert(table2() === expected)
    assert(!new java.io.File(path2 + "_upsert_commit").exists())
    assert(!new java.io.File(path2 + "_upsert_old").exists())

    // crash MID-FOLD after the new partition already moved in (its
    // commit-side dir consumed): replay must NOT delete it (the
    // fresh-vs-clear manifest distinction), and must finish the clears
    rm(new java.io.File(path2))
    Lifecycle.writeStatus(status2, path2)
    Lifecycle.stageUpsertAdvanceOnly(spark, path2, all, "loaded")
    val fsys = new org.apache.hadoop.fs.Path(path2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.rename(
      new org.apache.hadoop.fs.Path(path2 + "_upsert_commit", "status=loaded"),
      new org.apache.hadoop.fs.Path(path2, "status=loaded")))
    Lifecycle.recoverUpsertAdvance(spark, path2)
    assert(table2() === expected,
      "mid-fold replay lost the freshly-created partition")
    assert(!new java.io.File(path2, "status=extracted").exists())
    assert(!new java.io.File(path2, "status=transformed").exists())

    // an uncommitted tmp (crash mid-write) simply drops; a full re-run
    // of the SAME upsert on the folded table is a no-op (advance is
    // idempotent), and recovery with no leftovers is a no-op
    new java.io.File(path2 + "_upsert_tmp").mkdirs()
    Lifecycle.upsertAdvance(spark, path2, all, "loaded")
    assert(table2() === expected)
    assert(!new java.io.File(path2 + "_upsert_tmp").exists())
  }

  test("range join candidate fan-out is bounded near 2x true pairs on the gate data") {
    val ev = Tables.events(spark, sfDir)
    val days = 7
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("key"), col("event_id").as("a_key"), col("ts").as("a_date"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("ts").as("b_date"), col("value").as("b_val"))
    // candidate count = Σ over (key, bucket) of |a-side| × |b-side|,
    // re-deriving the operator's epoch-day bucket formula — the rows
    // the equi-join materializes BEFORE the residual range filter
    def bucket(c: org.apache.spark.sql.Column) =
      floor(datediff(to_date(c), to_date(lit("1970-01-01"))).cast("double") / days)
    val aB = clicks
      .withColumn("bucket", explode(sequence(bucket(col("a_date")), bucket(col("a_date")) + 1)))
      .groupBy("key", "bucket").agg(count(lit(1)).as("na"))
    val bB = purchases.withColumn("bucket", bucket(col("b_date")))
      .groupBy("key", "bucket").agg(count(lit(1)).as("nb"))
    val candidates = aB.join(bB, Seq("key", "bucket"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L))).head().getLong(0)
    val truePairs = Temporal.rangeJoinPairs(clicks, purchases, days).count()
    assert(truePairs > 0)
    // window-matched buckets: an interval touches exactly 2 window-
    // sized buckets, so candidates ≤ points within a 2·days span per
    // click ≈ 2× the true pairs plus boundary slack (month-grain
    // bucketing measured 4.8× on this data)
    assert(candidates <= (2.5 * truePairs).toLong,
      s"candidate fan-out too high: $candidates candidates for $truePairs true pairs")
  }

  test("event transitions count adjacent pairs per user in (ts, event_id) order") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    // user 1: view→click→view ; user 2: view→click ; user 3: single
    // event (no transition). click→view only from user 1.
    val ev = Seq(
      (1L, 10L, t(100), "view"), (1L, 11L, t(200), "click"), (1L, 12L, t(300), "view"),
      (2L, 20L, t(100), "view"), (2L, 21L, t(150), "click"),
      (3L, 30L, t(100), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Analytics.eventTransitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out === Map(
      ("view", "click") -> ((2L, 2L)),   // both users 1 and 2
      ("click", "view") -> ((1L, 1L))))  // user 1 only; user 3 contributes nothing
  }

  test("co-bucketed fact join plans zero exchanges through join and aggregate") {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    // small-SF tables fit under the broadcast threshold, which would
    // bypass the bucketed sort-merge path this spec pins; AQE off so
    // executedPlan is the raw tree
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.cobucketedRevenue(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected bucket-aligned join+agg with no exchange:\n$plan")
      // the bucketed copies carry the raw tables' data
      val rawPairs = Tables.orders(spark, sfDir)
        .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
        .count()
      assert(df.agg(sum("n_items")).head().getLong(0) === rawPairs)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("skew_report ranks hottest keys with conserved basis-point shares") {
    val out = Analytics.skewReport(Tables.events(spark, sfDir), 5).collect()
    assert(out.length === 5)
    // descending by count, ties by key
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("cnt") > b.getAs[Long]("cnt") ||
          (a.getAs[Long]("cnt") === b.getAs[Long]("cnt") &&
            a.getAs[Long]("user_id") < b.getAs[Long]("user_id")))
      case _ => ()
    }
    val total = Tables.events(spark, sfDir).count()
    out.foreach(r =>
      assert(r.getAs[Long]("share_bp") === 10000L * r.getAs[Long]("cnt") / total))
  }

  test("embed_drift is zero against an identical snapshot pair and integer-stable") {
    import spark.implicits._
    // identical snapshots (ids divisible by 6 appear in BOTH the mod-2
    // and mod-3 slice): a label whose every vector is in both slices
    // must show zero shift
    val emb = Seq(
      (6L, Array(1.0f, 2.0f, 3.0f, 4.0f), 1),
      (12L, Array(4.0f, 3.0f, 2.0f, 1.0f), 1),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f), 2),   // only in mod-2
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f), 2)    // only in mod-3
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.embedDrift(emb).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1) === ((2L, 2L, 0L)))   // same two vectors both sides → no drift
    // label 2: means are the two orthogonal unit vectors, quantized to
    // ±127 at two positions → L1 = 127+127 = 254 quant units = 2540000 mq
    assert(out(2) === ((1L, 1L, 2540000L)))
  }

  test("percentile vector picks nearest-rank values, p100 is the max") {
    import spark.implicits._
    // 4 values: p25→rank 1, p50→rank 2, p75→rank 3, p100→rank 4
    val orders = Seq(
      (1L, 1L, 10.0), (2L, 1L, 20.0), (3L, 1L, 30.0), (4L, 1L, 40.0)
    ).toDF("o_orderkey", "o_custkey", "o_totalprice")
    val out = Analytics.percentilesByEntity(orders, Seq(25, 50, 75, 100))
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out === Map(25L -> 10.0, 50L -> 20.0, 75L -> 30.0, 100L -> 40.0))
    // median agreement with the dedicated operator on the real table
    val real = Tables.orders(spark, sfDir)
    val p50 = Analytics.percentilesByEntity(real, Seq(50))
      .select(col("entity_id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val med = Analytics.medianByEntity(real)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p50 === med)
  }

  test("funnel_steps requires strict event-time ordering through every step") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    // user 1 completes signup→click→purchase in order; user 2 clicks
    // BEFORE signing up (click doesn't count); user 3 signup only.
    // user 4's click shares the signup timestamp — strict > rejects it.
    val ev = Seq(
      (1L, t(100), "signup"), (1L, t(200), "click"), (1L, t(300), "purchase"),
      (2L, t(100), "click"), (2L, t(200), "signup"),
      (3L, t(100), "signup"),
      (4L, t(100), "signup"), (4L, t(100), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = Analytics.funnelSteps(ev).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out === Map("signup" -> 4L, "click" -> 1L, "purchase" -> 1L))
  }

  test("interval join finds each overlap once, even straddling bucket boundaries") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // a1 spans midnight (2 day-buckets) and overlaps b1 in both — the
    // distinct must emit the pair ONCE. b2 touches a1 only at the open
    // endpoint (no overlap); b3 is a different user.
    val a = Seq((1L, 10L, t("2024-01-01 22:00:00"), t("2024-01-02 02:00:00")))
      .toDF("key", "a_key", "a_start", "a_end")
    val b = Seq(
      (1L, 20L, t("2024-01-01 23:00:00"), t("2024-01-02 03:00:00")),
      (1L, 21L, t("2024-01-02 02:00:00"), t("2024-01-02 04:00:00")),
      (2L, 22L, t("2024-01-01 23:00:00"), t("2024-01-02 03:00:00"))
    ).toDF("key", "b_key", "b_start", "b_end")
    val out = Temporal.intervalJoin(a, b).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(out === Map((10L, 20L) -> 10800L)) // 23:00..02:00 = 3h overlap
  }

  test("scd2 join picks the dimension version valid at the fact timestamp") {
    import spark.implicits._
    val facts = Seq(
      (1L, 10L, java.sql.Date.valueOf("1995-06-01")),
      (2L, 10L, java.sql.Date.valueOf("1997-06-01")),
      (3L, 10L, java.sql.Date.valueOf("1991-01-01"))  // before any version
    ).toDF("fact_id", "cust", "fact_date")
    val dim = Seq(
      (10L, java.sql.Date.valueOf("1992-01-01"), java.sql.Date.valueOf("1996-01-01"), "OLD"),
      (10L, java.sql.Date.valueOf("1996-01-01"), java.sql.Date.valueOf("9999-12-31"), "NEW")
    ).toDF("dim_key", "valid_from", "valid_to", "segment")
    val out = Temporal.scd2Join(facts, dim, "cust", "fact_date")
      .select("fact_id", "segment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "OLD", 2L -> "NEW"))  // fact 3 has no valid version
  }

  test("oov_rate counts occurrences outside the top-V vocab, full vocab means zero OOV") {
    val docs = Tables.documents(spark, sfDir)
    val tight = Corpus.oovRate(docs, vocabSize = 5).collect()
    assert(tight.nonEmpty)
    tight.foreach { r =>
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("oov_bp") ===
        10000L * r.getAs[Long]("n_oov") / r.getAs[Long]("n_tokens"))
    }
    // a vocab covering every distinct word leaves nothing OOV
    val loose = Corpus.oovRate(docs, vocabSize = 100000).collect()
    assert(loose.forall(_.getAs[Long]("n_oov") === 0L))
  }

  test("lang confusion rows conserve per-language doc counts and sum to ~10000 bp") {
    val docs = Tables.documents(spark, sfDir)
    val out = TextAnalysis.langConfusion(docs).collect()
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      assert(rs.map(_.getAs[Long]("n")).sum === perLang(lang), lang)
      val bp = rs.map(_.getAs[Long]("row_bp")).sum
      assert(bp <= 10000L && bp > 10000L - rs.length, s"$lang row sums to $bp")
    }
  }

  test("transition probabilities normalize each source row to ~10000 bp") {
    val out = Analytics.transitionProbs(Tables.events(spark, sfDir)).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).values.foreach { rs =>
      val total = rs.map(_.getAs[Long]("prob_bp")).sum
      // floor division truncates at most (T-1) bp across a row
      assert(total <= 10000L && total > 10000L - rs.length, s"row sums to $total")
    }
  }

  test("table profile reports per-column nulls, distincts, and numeric ranges") {
    val prof = DataQuality.profileOrders(Tables.orders(spark, sfDir)).collect()
      .map(r => r.getString(0) -> r).toMap
    val n = Tables.orders(spark, sfDir).count()
    assert(prof.keySet === Set("o_custkey", "o_totalprice", "o_orderdate", "o_orderstatus"))
    prof.values.foreach(r => assert(r.getAs[Long]("n") === n))
    assert(prof("o_custkey").getAs[Double]("min_v") >= 0.0)
    assert(prof("o_totalprice").getAs[Double]("max_v") >
      prof("o_totalprice").getAs[Double]("min_v"))
    assert(prof("o_orderdate").isNullAt(4) && prof("o_orderdate").isNullAt(5))
    assert(prof("o_orderstatus").getAs[Long]("n_distinct") <= 3L)
  }

  test("user_rfm tiers on fixed thresholds with corpus-max as-of") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // corpus max day = 2024-01-30 (user 2's last event).
    // user 1: last 2024-01-29 (1 day → R3), 2 events (F1), $600 purchases (M3)
    // user 2: last 2024-01-30 (0 days → R3), 1 event, no purchase (M0)
    val ev = Seq(
      (1L, t("2024-01-20 10:00:00"), "purchase", 100.0),
      (1L, t("2024-01-29 10:00:00"), "purchase", 500.0),
      (2L, t("2024-01-30 10:00:00"), "view", 3.0)
    ).toDF("user_id", "ts", "event_type", "value")
    val out = Analytics.userRfm(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3), r.getString(4)))).toMap
    assert(out === Map(
      1L -> ((1L, 600.0, "R3F1M3")),
      2L -> ((0L, 0.0, "R3F1M0"))))
  }

  test("dq_report counts injected violations per named check") {
    import spark.implicits._
    val orders = Seq(
      (1L, 10L, java.sql.Date.valueOf("2024-01-01"), 100.0),
      (2L, 99L, null.asInstanceOf[java.sql.Date], -5.0) // bad FK, null date, non-positive
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val customer = Seq(Tuple1(10L)).toDF("c_custkey")
    val lineitem = Seq(
      (1L, 10.0, 0.05, 100.0),
      (2L, 99.0, 1.5, 0.0)  // qty > 50, discount > 1, price <= 0
    ).toDF("l_orderkey", "l_quantity", "l_discount", "l_extendedprice")
    val events = Seq(
      (1L, "click", 1.0), (2L, "bogus", -1.0) // bad enum, negative value
    ).toDF("user_id", "event_type", "value")
    val rep = DataQuality.report(orders, lineitem, customer, events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rep("orders_total_positive") === ((2L, 1L, false)))
    assert(rep("orders_date_present") === ((2L, 1L, false)))
    assert(rep("orders_customer_fk") === ((2L, 1L, false)))
    assert(rep("lineitem_qty_range") === ((2L, 1L, false)))
    assert(rep("lineitem_discount_range") === ((2L, 1L, false)))
    assert(rep("lineitem_price_positive") === ((2L, 1L, false)))
    assert(rep("events_type_enum") === ((2L, 1L, false)))
    assert(rep("events_value_nonneg") === ((2L, 1L, false)))
    assert(rep("events_user_present") === ((2L, 0L, true)))
    assert(rep.size === 9)
  }

  test("linear attribution conserves purchase value and splits equally") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // purchase 100 at day 5: clicks 1,2 in window (day 1, 3) — 3rd click
    // at day 20 outside. value 100.0001 → 1000001 units: 500000 each,
    // remainder 1 to the EARLIEST click (id 1).
    val clicks = Seq(
      (1L, 1L, t("2024-01-01 00:00:00")),
      (1L, 2L, t("2024-01-03 00:00:00")),
      (1L, 3L, t("2024-01-20 00:00:00"))
    ).toDF("key", "a_key", "a_date")
    val purchases = Seq(
      (1L, 10L, t("2024-01-05 00:00:00"), BigDecimal("100.0001"))
    ).toDF("key", "b_key", "b_date", "b_val")
      .withColumn("b_val", col("b_val").cast("decimal(18,4)"))
    val out = Temporal.attributionLinear(clicks, purchases, 7)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out === Map(
      1L -> ((1L, 50.0001)),   // 500001 units — floor share + the 1-unit remainder
      2L -> ((1L, 50.0))))
    // mass conservation on the real table: total attributed equals the
    // total value of every purchase that has at least one click in
    // window (integer shares sum exactly per purchase)
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("key"), col("event_id").as("a_key"), col("ts").as("a_date"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("event_id").as("b_key"), col("ts").as("b_date"),
        col("value").cast("decimal(18,4)").as("b_val"))
    val attributed = Temporal.attributionLinear(c, p, 7)
      .agg(sum(round(col("attributed") * 10000).cast("long"))).head().getLong(0)
    val covered = Temporal.rangeJoinPairs(c, p, 7)
      .select(col("b_key"), (col("b_val") * 10000).cast("long").as("u"))
      .dropDuplicates("b_key")
      .agg(sum("u")).head().getLong(0)
    assert(attributed === covered)
  }

  test("fixed-k sample takes exactly k per language via the two-phase top-k") {
    val docs = Tables.documents(spark, sfDir)
    val out = Sampling.fixedK(docs, 7).collect()
    val perLang = out.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    val langSizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    langSizes.foreach { case (lang, n) =>
      assert(perLang.getOrElse(lang, 0) === math.min(7L, n).toInt, lang)
    }
    // ranks are 1..k contiguous within each language
    out.groupBy(_.getAs[String]("lang")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq === (1L to rs.length).toSeq)
    }
  }

  test("token-budget mix admits a deterministic per-lang prefix, boundary doc overflows") {
    val docs = Tables.documents(spark, sfDir)
    val out = Sampling.tokenBudgetMix(docs)
    val rows = out.collect()
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    // every language admits at least one document (tokens_before
    // starts at 0 < any positive budget)
    assert(rows.map(_.getAs[String]("lang")).toSet === langs)
    // global budget from first principles
    val budget = docs.select(
      expr("sum(CAST(size(split(trim(text), '\\\\s+')) AS BIGINT)) div (2 * count(DISTINCT lang))"))
      .head().getLong(0)
    assert(rows.forall(_.getAs[Long]("tokens_before") < budget))
    // admitted set per lang is a PREFIX of the (md5 bucket, doc_id)
    // admission order: tokens_before is the exclusive running sum, so
    // within a lang the kept docs' offsets must be consecutive sums
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val inOrder = rs.sortBy(_.getAs[Long]("tokens_before"))
      inOrder.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("tokens_before") + a.getAs[Long]("n_tokens")
            === b.getAs[Long]("tokens_before"))
        case _ => ()
      }
    }
  }

  test("curriculum phases are quality-monotonic tertiles with tie-sharing") {
    val out = Corpus.curriculumOrder(Tables.documents(spark, sfDir)).collect()
    val n = out.length
    val byPhase = out.groupBy(_.getAs[Long]("phase"))
    assert(byPhase.keySet === Set(1L, 2L, 3L))
    // same score ⇒ same phase (the assignment is a pure function of q_bp)
    out.groupBy(_.getAs[Long]("q_bp")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("phase")).toSet.size === 1)
    }
    // monotonic: every phase-1 score ≥ every phase-2 score ≥ phase-3
    def scores(p: Long) = byPhase(p).map(_.getAs[Long]("q_bp"))
    assert(scores(1L).min >= scores(2L).max)
    assert(scores(2L).min >= scores(3L).max)
    // tertile targets hit up to tie-sharing: phase 1 holds ≥ ⌈N/3⌉
    // docs, but dropping its boundary-score docs would fall under
    val k1 = (n + 2) / 3
    val p1 = byPhase(1L)
    assert(p1.length >= k1)
    val b1 = scores(1L).min
    assert(p1.count(_.getAs[Long]("q_bp") > b1) < k1)
  }

  test("semi join counts orders once regardless of matching-lineitem multiplicity") {
    val orders = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val out = Analytics.latePriority(orders, li)
    val total = out.agg(sum("order_count")).head().getLong(0)
    assert(total > 0)
    // reference formulation: inner join + distinct orderkey — the
    // fan-out the semi join never materializes
    val expected = orders
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .select("o_orderkey").distinct().count()
    assert(total === expected)
    // the plan is a real semi join, not join+aggregate
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected LeftSemi in:\n$plan")
  }

  test("anti join keeps exactly the customers with no in-window order") {
    val cust = Tables.customer(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    val out = Analytics.inactiveCustomers(cust, orders, Tables.nation(spark, sfDir))
    val n = out.agg(sum("n_customers")).head().getLong(0)
    assert(n > 0, "gate must not be vacuous on the test corpus")
    val active = orders
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct().count()
    assert(n === cust.count() - active)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected LeftAnti in:\n$plan")
  }

  test("label centroids: constant row count, exact means incl. negative half-case") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.labelCentroids(emb).cache()
    val nLabels = emb.select("label").distinct().count()
    val dims = emb.selectExpr("size(embedding) d").head().getInt(0)
    assert(out.count() === nLabels * dims, "exactly |labels| × dims rows")
    // mean sign follows the sum; the identity rounds half AWAY from zero
    assert(out.filter(col("s") < 0 && col("mean_q") > 0).count() === 0)
    import spark.implicits._
    val tiny = Seq(
      (1L, Array(127.0f, -127.0f), 7),
      (2L, Array(127.0f, -126.0f), 7)
    ).toDF("vec_id", "embedding", "label")
    val m = Similarity.labelCentroids(tiny).collect()
      .map(r => r.getAs[Int]("pos") -> r.getAs[Double]("mean_q")).toMap
    // dim 0: (127+127)/2 = 127; dim 1: (-127 + -126)/2 = -126.5 → away from zero
    assert(m(0) === 127.0 && m(1) === -126.5)
    out.unpersist()
  }

  test("dedup weights conserve expected mass: sum over a cluster ≈ 1, singletons = 1") {
    val docs = Tables.documents(spark, sfDir)
    val out = Dedup.dedupWeights(docs).cache()
    assert(out.count() === docs.count(), "soft dedup keeps every document")
    // singleton weight is exactly 1.0; every cluster's weight sum is
    // size·floor(1e6/size)/1e6 ∈ (1 − 1e-6·size, 1]
    assert(out.filter(col("cluster_size") === 1 && col("weight") =!= 1.0).count() === 0)
    val bad = out.groupBy("cluster_id")
      .agg(sum("weight").as("mass"), max("cluster_size").as("sz"))
      .filter(col("mass") > 1.0 + 1e-9 ||
        col("mass") <= lit(1.0) - col("sz") * 1e-6 - lit(1e-9))
      .count()
    assert(bad === 0, "per-cluster mass must be within the floor-division band")
    // indexed twin returns the identical frame off a fresh index
    spark.sql("DROP TABLE IF EXISTS g_weights_idx")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val whDir = new java.io.File(wh, "g_weights_idx")
    if (whDir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(whDir)
    }
    Dedup.writeClusterIndex(docs, "g_weights_idx")
    val idx = Dedup.dedupWeightsFromIndex(spark, "g_weights_idx")
    assert(out.except(idx).isEmpty && idx.except(out).isEmpty)
    out.unpersist()
  }

  test("gopher_rules: per-rule booleans, keep is their conjunction, gate non-vacuous") {
    val out = TextAnalysis.gopherRules(Tables.documents(spark, sfDir)).cache()
    val rules = Seq("rule_word_count", "rule_mean_word_len", "rule_dup_word", "rule_symbol")
    val bad = out.filter(col("keep") =!= rules.map(col).reduce(_ && _)).count()
    assert(bad === 0, "keep must equal the conjunction of the rules")
    // thresholds chosen so the corpus actually splits — a rule set
    // that keeps (or drops) everything verifies nothing
    assert(out.filter(col("keep")).count() > 0)
    assert(out.filter(!col("keep")).count() > 0)
    out.unpersist()
  }

  test("doc_entropy: uniform doc hits log2(n), constant doc hits 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),      // 4 distinct → H = 2.0
      (2L, "a a a a"),      // constant → H = 0
      (3L, "a a b b")       // two × 2 → H = 1.0
    ).toDF("doc_id", "text")
    val m = Corpus.docEntropy(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("entropy")).toMap
    assert(m(1L) === 2.0 && m(2L) === 0.0 && m(3L) === 1.0)
  }

  test("doc_logprob: repeated-common-word doc scores higher than rare-word doc") {
    import spark.implicits._
    // corpus: 'the' dominates; doc 1 = common words, doc 2 = rare ones
    val df = Seq(
      (1L, "the the the the the the the the"),
      (2L, "zyx wvu tsr qpo"),
      (3L, "the the the the")
    ).toDF("doc_id", "text")
    val m = Corpus.docLogprob(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logprob")).toMap
    assert(m(1L) > m(2L), "common-word doc must have higher avg logprob")
    assert(m(1L) === m(3L), "score is per-token, invariant to doc length")
  }

  test("q13 distribution: zero-order customers land in the 0 bucket") {
    val cust = Tables.customer(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    val out = Analytics.orderCountDistribution(cust, orders).cache()
    // histogram masses sum to the customer count — nothing dropped
    assert(out.agg(sum("custdist")).head().getLong(0) === cust.count())
    val zeroBucket = out.filter(col("c_count") === 0)
      .select("custdist").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().headOption.getOrElse(0L)
    val noOrder = cust.join(
      orders.filter(col("o_orderpriority") =!= "4-NOT SPECIFIED"),
      col("c_custkey") === col("o_custkey"), "left_anti").count()
    assert(zeroBucket === noOrder, "0 bucket must equal the anti-join count")
    out.unpersist()
  }

  test("q18 large orders: every row's quantity clears the threshold, top-100 total order") {
    val out = Analytics.largeOrders(Tables.customer(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)).collect()
    assert(out.nonEmpty && out.length <= 100)
    assert(out.forall(_.getAs[Double]("total_qty") > 250.0))
    val prices = out.map(_.getAs[Double]("total_price"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b },
      "rows must be price-descending")
  }

  test("url canonicalization folds scheme/www/query/slash variants to one key") {
    import spark.implicits._
    // doc_ids chosen so all four variants of one article collide:
    // 500·k + r hits the same item bucket r
    val df = Seq(
      (501L, "acme1"),  // https, no www (501%2=1), no slash, utm (501%3=0)
      (1001L, "acme1"), // https, no www, no query
      (2002L, "acme1"), // https, www
      (2505L, "acme1")  // https, no www, trailing slash (2505%5=0), utm
    ).map { case (id, s) => (id, s, "x", "en", 1L) }
      .toDF("doc_id", "source", "text", "lang", "n_chars")
    val r = TextPipeline.urlCanonicalDedup(df).collect()
    // items 1, 1, 2, 5 → 501 and 1001 collide on item-1
    val byUrl = r.map(x => x.getAs[String]("canonical_url") ->
      (x.getAs[Long]("keep_doc_id"), x.getAs[Long]("n_variants"))).toMap
    assert(byUrl.size === 3)
    val item1 = byUrl.keys.find(_.endsWith("item-1")).get
    assert(byUrl(item1) === (501L, 2L))
    assert(byUrl.keys.forall(u => !u.contains("http") && !u.contains("www.")
      && !u.contains("?") && !u.endsWith("/")))
  }

  test("event dedup window: burst collapses onto its first event") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      // 3-event burst 10 min apart: 2 dups at the 1 h window
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0, "{}"),
      (2L, ts("2024-01-01 10:10:00"), 1L, "click", 0.0, "{}"),
      (3L, ts("2024-01-01 10:20:00"), 1L, "click", 0.0, "{}"),
      // different type, same user: independent
      (4L, ts("2024-01-01 10:05:00"), 1L, "view", 0.0, "{}"),
      // gap > 1 h: not a dup (group has 0 dups → filtered out)
      (5L, ts("2024-01-01 12:00:00"), 2L, "click", 0.0, "{}"),
      (6L, ts("2024-01-01 13:30:00"), 2L, "click", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Analytics.eventDedupWindow(df).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("user_id") === 1L)
    assert(r(0).getAs[String]("event_type") === "click")
    assert(r(0).getAs[Long]("n_events") === 3L && r(0).getAs[Long]("n_dups") === 2L)
  }

  test("mad outliers: flags the masked spike a z-score misses at small n") {
    import spark.implicits._
    // 9 tight values + one huge spike: MAD stays ~1 cent-scale while
    // the spike inflates σ; MAD flags it
    val rows = (1 to 9).map(i => (i.toLong, 1L, 100.0 + i * 0.01)) :+ (10L, 1L, 5000.0)
    val df = rows.toDF("o_orderkey", "o_custkey", "o_totalprice")
    val r = Analytics.madOutliers(df).collect()
    assert(r.map(_.getAs[Long]("o_orderkey")).toSeq === Seq(10L))
    assert(r(0).getAs[Long]("mad_c") > 0)
    // integer invariant: dev > 3 · mad for every flagged row on real data
    val real = Analytics.madOutliers(Tables.orders(spark, sfDir))
    assert(real.filter(col("dev_c") <= col("mad_c") * 3).count() === 0)
  }

  test("dow seasonality: ISO weekday numbering, mass-conserving") {
    val orders = Tables.orders(spark, sfDir)
    val out = Analytics.dowSeasonality(orders).collect()
    assert(out.map(_.getAs[Int]("iso_dow")).toSet.subsetOf((1 to 7).toSet))
    assert(out.map(_.getAs[Long]("n_orders")).sum === orders.count())
    // pin the ISO convention on a known date: 2024-01-01 is a Monday
    import spark.implicits._
    val monday = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    assert(Analytics.dowSeasonality(monday).head().getAs[Int]("iso_dow") === 1)
  }

  test("dq_sequence flags exactly purchase-without/before-signup users") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 0.0, "{}"), // no signup
      (2L, ts("2024-01-01 09:00:00"), 2L, "purchase", 0.0, "{}"), // before signup
      (3L, ts("2024-01-01 10:00:00"), 2L, "signup", 0.0, "{}"),
      (4L, ts("2024-01-01 08:00:00"), 3L, "signup", 0.0, "{}"),   // legal
      (5L, ts("2024-01-01 09:00:00"), 3L, "purchase", 0.0, "{}"),
      (6L, ts("2024-01-01 09:00:00"), 4L, "click", 0.0, "{}")     // no purchase
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Analytics.dqSequence(df).collect()
      .map(x => x.getAs[Long]("user_id") -> x.getAs[String]("violation")).toMap
    assert(r === Map(1L -> "missing_signup", 2L -> "purchase_before_signup"))
  }

  test("q19 brackets plan a hash join with a residual OR, never BNLJ") {
    val out = Analytics.bracketRevenue(
      Tables.lineitem(spark, sfDir), Tables.part(spark, sfDir))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"disjunctive brackets fell off the equi-key:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), "expected a keyed join")
    // semantics on synthetic rows (sf0.001 is too small to hit the
    // brackets; the sf0.01 gate checks non-vacuity on real data):
    // only the (brand, size, qty)-conjunction rows survive
    import spark.implicits._
    val li = Seq(
      (1L, 5.0, 100.0, 0.0),   // Brand#12, qty in [1,11] → kept
      (1L, 30.0, 100.0, 0.0),  // Brand#12 but qty out of bracket
      (2L, 15.0, 200.0, 0.5)   // Brand#23, qty in [10,20] → kept
    ).toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val pt = Seq(
      (1L, "Brand#12", 3), (2L, "Brand#23", 9)
    ).toDF("p_partkey", "p_brand", "p_size")
    val r = Analytics.bracketRevenue(li, pt).collect()
      .map(x => x.getAs[String]("p_brand") -> x.getAs[Double]("revenue")).toMap
    assert(r === Map("Brand#12" -> 100.0, "Brand#23" -> 100.0))
  }

  test("q14 promo share: one aggregate, pct consistent with its own sums") {
    val r = Analytics.promoRevenue(
      Tables.lineitem(spark, sfDir), Tables.part(spark, sfDir)).head()
    val (p, t, pct) = (r.getAs[Double]("promo_revenue"),
      r.getAs[Double]("total_revenue"), r.getAs[Double]("promo_pct"))
    assert(t > 0 && p > 0 && p < t)
    assert(math.abs(pct - 100.0 * p / t) < 0.01)
  }

  test("bloom prune: no false negatives, real pruning, exact result") {
    import graft.plans.SketchAggs
    val orders = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val keys = cust.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val bloomRow = keys.agg(SketchAggs.bloomAgg(col("c_custkey")).as("bloom"))
    val pruned = orders.join(broadcast(bloomRow))
      .filter(SketchAggs.bloomMightContain(col("bloom"), col("o_custkey")))
    val trueMatch = orders.join(keys,
      col("o_custkey") === col("c_custkey"), "left_semi")
    val (nPruned, nTrue, nAll) = (pruned.count(), trueMatch.count(), orders.count())
    assert(nPruned >= nTrue, "bloom must never drop a true match")
    assert(nPruned < nAll, "bloom must actually prune on a selective build side")
    // end-to-end result equals the plain semi-join aggregate
    val out = Analytics.bloomSemiJoin(orders, cust)
    val plain = trueMatch.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    assert(out.except(plain).isEmpty && plain.except(out.drop()).isEmpty)
  }

  test("bloom merge path: bitset identical across 1 and many partitions") {
    import graft.plans.SketchAggs
    import spark.implicits._
    val ids = (1L to 1000L).toDF("k")
    val one = ids.coalesce(1).agg(SketchAggs.bloomAgg(col("k")).as("b")).head()
      .getAs[scala.collection.Seq[Long]]("b").toSeq
    val many = ids.repartition(13).agg(SketchAggs.bloomAgg(col("k")).as("b")).head()
      .getAs[scala.collection.Seq[Long]]("b").toSeq
    assert(one === many, "OR-merge must be partitioning-invariant")
  }

  test("argmin join: per-part minimum price with suppkey tie-break, no window") {
    val li = Tables.lineitem(spark, sfDir)
    val out = Analytics.cheapestSupplier(li, Tables.supplier(spark, sfDir))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "argmin must aggregate, not window-sort")
    // spot-check one part against the brute-force window form
    val some = out.limit(5).collect()
    val byPart = li.groupBy("l_partkey").agg(min("l_extendedprice").as("mn"))
      .collect().map(r => r.getAs[Long]("l_partkey") ->
        BigDecimal(r.getAs[Double]("mn")).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    some.foreach { r =>
      assert(r.getAs[Double]("best_price") === byPart(r.getAs[Long]("l_partkey")))
    }
  }

  test("latest_by_key equals the rank-1 window row per user") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
    val out = Analytics.latestByKey(ev)
    assert(out.count() === ev.select("user_id").distinct().count())
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val viaWindow = ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        col("event_type"), col("value").as("last_value"))
    assert(out.except(viaWindow).isEmpty && viaWindow.except(out).isEmpty)
    // the at-scale property: a partial (map-side) aggregate, no window sort
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "latest_by_key must aggregate, not window-sort")
  }

  test("window_rank_agg equals the window formulation without a Window sort") {
    val out = SparkEntry.queries("window_rank_agg")(spark, sfDir)
    val win = Analytics.topOrdersPerCustomer(Tables.orders(spark, sfDir), 3)
      .withColumn("rn", col("rn").cast("int"))
    assert(out.withColumn("rn", col("rn").cast("int")).except(win).isEmpty &&
      win.except(out.withColumn("rn", col("rn").cast("int"))).isEmpty)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "bounded-heap top-k must not plan a window")
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash agg in:\n$plan")
  }

  test("salted join is value-identical to the plain join and spreads hot keys") {
    val li = Tables.lineitem(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    val out = Analytics.saltedJoinRevenue(li, orders)
    val plain = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)")), 2)
        .cast("double").as("sum_price"), count(lit(1)).as("n_lineitems"))
    assert(out.except(plain).isEmpty && plain.except(out).isEmpty)
    // spreading: a hot fact key's rows carry > 1 distinct salt (the
    // whole point), cold keys exactly one; dim replicates hot keys
    // `salts` times and cold keys once — so the join itself stays 1:1
    // per (key, salt)
    val salted = Analytics.saltedJoin(li, orders, "l_orderkey", "o_orderkey",
      hotKeys = Seq(1L, 2L), salts = 8)
    val n = salted.count()
    assert(n === li.join(orders, col("l_orderkey") === col("o_orderkey")).count())
    val hotSalts = li.filter(col("l_orderkey") === 1L)
      .withColumn("salt", pmod(hash(li.columns.map(col): _*), lit(8)))
      .select("salt").distinct().count()
    assert(hotSalts > 1, "hot key must spread over multiple salts")
  }

  test("cube margins: every marginal reconciles with the detail cells") {
    val out = Rollups.cubeMargins(Tables.orders(spark, sfDir)).collect()
    def lvl(l: Long) = out.filter(_.getAs[Long]("lvl") === l)
    val detail = lvl(0L)
    assert(detail.nonEmpty && lvl(1L).nonEmpty && lvl(2L).nonEmpty)
    val grand = lvl(3L)
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("cnt") === detail.map(_.getAs[Long]("cnt")).sum)
    // per-priority margin (year rolled up, lvl=1) = sum of its detail row counts
    val byPriority = detail.groupBy(_.getAs[String]("priority"))
      .view.mapValues(_.map(_.getAs[Long]("cnt")).sum).toMap
    lvl(1L).foreach { r =>
      assert(r.getAs[Long]("cnt") === byPriority(r.getAs[String]("priority")))
    }
  }

  test("histogram partials merge along any axis and refine to exact percentiles") {
    val orders = Tables.orders(spark, sfDir)
    val t = "g_spec_hist"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Analytics.writeValueHistogramRollup(orders, t)
    // partials add: per-month bins collapse to the global histogram
    val merged = spark.table(t).groupBy("bin").agg(sum("cnt").as("cnt"))
    val direct = orders.groupBy(floor(col("o_totalprice") / 25000).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty)
    // the probe's refined percentile equals the rank-based exact value
    val out = Analytics.quantilesFromHistogram(spark, t, orders).collect()
    assert(out.forall(_.getAs[Boolean]("within_bound")))
    val n = orders.count()
    val sorted = orders.select("o_totalprice").orderBy("o_totalprice")
      .collect().map(_.getDouble(0))
    out.foreach { r =>
      val p = r.getAs[Long]("p")
      val exact = sorted(((p * n + 99) / 100 - 1).toInt)
      assert(math.abs(r.getAs[Double]("exact_value") - exact) < 0.005,
        s"p$p: ${r.getAs[Double]("exact_value")} vs $exact")
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("fertility report totals reconcile and fertility >= 1") {
    val docs = Tables.documents(spark, sfDir)
    val merges = Seq("t" -> "a", "ta" -> "b")
    val out = Corpus.fertilityReport(docs, merges).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      // each word is >= 1 token, so tokens/words >= 1 always
      assert(r.getAs[Double]("fertility") >= 1.0)
      assert(r.getAs[Long]("total_tokens") >= r.getAs[Long]("total_words"))
    }
    // corpus-wide word total matches the token_count op's ws column
    val wsTotal = TextAnalysis.tokenCount(docs)
      .agg(sum("ws_tokens")).head().getLong(0)
    assert(out.map(_.getAs[Long]("total_words")).sum === wsTotal)
  }

  test("last-touch attribution: latest in-window click takes the full value") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def plus(secs: Long) = new Timestamp(t0.getTime + secs * 1000)
    val clicks = Seq(
      (1L, 10L, plus(0)), (1L, 11L, plus(3600)),        // user 1: two clicks
      (2L, 20L, plus(0)))                               // user 2: stale click
      .toDF("key", "a_key", "a_date")
    val purchases = Seq(
      (1L, 100L, plus(7200), BigDecimal("50.00")),      // latest click = 11
      (1L, 101L, plus(7300), BigDecimal("25.00")),      // also click 11
      (2L, 200L, plus(8L * 86400), BigDecimal("99.00")))// outside 7d window
      .toDF("key", "b_key", "b_date", "b_val")
    val r = Temporal.attributionLastTouch(clicks, purchases, 7).collect()
      .map(x => x.getAs[Long]("click_id") ->
        (x.getAs[Long]("n_purchases"), x.getAs[Double]("attributed"))).toMap
    assert(r === Map(11L -> ((2L, 75.0))),
      s"click 11 takes both purchases in full, click 10 nothing: $r")
  }

  test("burstiness: periodic gaps score 0 bp, bursty gaps score high") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def plus(secs: Long) = new Timestamp(t0.getTime + secs * 1000)
    // user 1: perfectly periodic 60 s gaps (12 events) → CV² = 0
    val periodic = (0 until 12).map(i => (i.toLong, plus(i * 60L), 1L, "cron"))
    // user 2: bursty — ten 1 s gaps then one 3600 s gap
    val bursty = ((0 until 11).map(i => (100L + i, plus(i.toLong), 2L, "burst")) :+
      (111L, plus(3610), 2L, "burst"))
    val ev = (periodic ++ bursty)
      .map { case (e, t, u, ty) => (e, t, u, ty, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Analytics.interarrivalBurstiness(ev, minN = 10L).collect()
      .map(x => x.getAs[String]("event_type") ->
        (x.getAs[Long]("mean_gap_secs"), x.getAs[Long]("burstiness_bp"))).toMap
    assert(r("cron") === ((60L, 0L)), "constant gaps → CV² exactly 0")
    val (_, bbp) = r("burst")
    assert(bbp > 50000L, s"bursty stream must score ≫ 10⁴ bp, got $bbp")
  }

  test("value bands: band edges are observed values, ordered in p") {
    val out = Analytics.valueBands(Tables.events(spark, sfDir)).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[String]("event_type")).foreach { case (_, rows) =>
      val byP = rows.sortBy(_.getAs[Long]("p"))
      val vs = byP.map(_.getAs[Double]("value"))
      assert(vs.zip(vs.tail).forall { case (a, b) => a <= b },
        "bands must be non-decreasing in p")
    }
  }

  test("chi2: independent table scores ~0, dependent table scores high") {
    import spark.implicits._
    // perfectly independent 2×2 (every cell 5) → chi² = 0
    val indep = (1L to 20L).map { i =>
      val src = if (i % 2 == 0) "s1" else "s2"
      val lang = if ((i / 2) % 2 == 0) "en" else "id"
      (i, "t", lang, src, 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val r0 = Analytics.sourceLangChi2(indep).head()
    assert(r0.getAs[Long]("chi2_x10000") === 0L)
    assert(r0.getAs[Long]("dof") === 1L)
    // perfectly dependent: s1→en only, s2→id only → chi² = N = 20
    val dep = (1L to 20L).map { i =>
      val src = if (i % 2 == 0) "s1" else "s2"
      (i, "t", if (src == "s1") "en" else "id", src, 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val r1 = Analytics.sourceLangChi2(dep).head()
    assert(r1.getAs[Long]("chi2_x10000") === 200000L, "chi² = N for a perfect 2×2")
  }

  test("price-qty slope: recovers an exact linear relationship") {
    import spark.implicits._
    // y_cents = 100·x exactly → slope 100, intercept 0
    val li = Seq((1.0, 1.00, "A"), (2.0, 2.00, "A"), (3.0, 3.00, "A"))
      .toDF("l_quantity", "l_extendedprice", "l_returnflag")
    val r = Analytics.priceQtySlope(li).head()
    assert(r.getAs[Double]("slope") === 100.0)
    assert(r.getAs[Double]("intercept_cents") === 0.0)
  }

  test("SES forecast: integer halving fold exact on a known series") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    // one region, months with revenue 100, 200, 400 dollars:
    // cents fold: s=10000 → (20000+10000) div 2 = 15000 →
    // (40000+15000) div 2 = 27500 → forecast $275.00
    val region = Seq((0, "R")).toDF("r_regionkey", "r_name")
    val nation = Seq((0, "N", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = Seq((1L, "c", 0, 0.0, "X"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val orders = Seq(
      (1L, 1L, "O", 100.0, ts("1996-01-15")),
      (2L, 1L, "O", 200.0, ts("1996-02-15")),
      (3L, 1L, "O", 400.0, ts("1996-03-15")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    val r = Analytics.sesForecast(region, nation, customer, orders).head()
    assert(r.getAs[Int]("n_months") === 3)
    assert(r.getAs[Double]("last_actual") === 400.0)
    assert(r.getAs[Double]("forecast_next") === 275.0)
  }

  test("qty-price correlation: exact moments match a hand computation") {
    import spark.implicits._
    // perfectly correlated: y = 100x exactly → corr 1.0
    val li = Seq((1.0, 1.00, "A"), (2.0, 2.00, "A"), (3.0, 3.00, "A"),
      // anti-correlated pair for flag B
      (1.0, 2.00, "B"), (2.0, 1.00, "B"))
      .toDF("l_quantity", "l_extendedprice", "l_returnflag")
    val r = Analytics.qtyPriceCorr(li).collect()
      .map(x => x.getAs[String]("l_returnflag") -> x.getAs[Double]("corr")).toMap
    assert(r("A") === 1.0)
    assert(r("B") === -1.0)
    // partitioning invariance (decimal moments)
    val r2 = Analytics.qtyPriceCorr(li.repartition(7)).collect()
      .map(x => x.getAs[String]("l_returnflag") -> x.getAs[Double]("corr")).toMap
    assert(r === r2)
  }

  test("discount elasticity: one band per discount, totals reconcile") {
    val li = Tables.lineitem(spark, sfDir)
    val rows = Analytics.discountElasticity(li).collect()
    assert(rows.map(_.getAs[Int]("discount_pct")).toSeq ===
      rows.map(_.getAs[Int]("discount_pct")).sorted.toSeq)
    assert(rows.map(_.getAs[Long]("n_lines")).sum === li.count())
    rows.foreach { r =>
      val (n, q, avg) = (r.getAs[Long]("n_lines"), r.getAs[Long]("sum_qty"),
        r.getAs[Double]("avg_qty"))
      assert(math.abs(avg - q.toDouble / n) < 0.01)
    }
  }

  test("part price variance: exact on a hand-computed group, partitioning-invariant") {
    import spark.implicits._
    // part 1: cents 100, 300 → n=2, s=400, s2=100000
    // var = (2·100000 − 160000) div 2 = 20000 cents²
    val li = Seq((1L, 1.00), (1L, 3.00), (2L, 5.00))
      .toDF("l_partkey", "l_extendedprice")
    val r = Analytics.partPriceVariance(li, k = 10).collect()
    assert(r.length === 1, "singleton part 2 is filtered (n < 2)")
    assert(r.head.getAs[Long]("l_partkey") === 1L)
    assert(r.head.getAs[Double]("var_cents2") === 20000.0)
    // merge-order independence: identical across partitionings
    val r13 = Analytics.partPriceVariance(li.repartition(13), k = 10).collect()
    assert(r.map(_.toSeq).toSeq === r13.map(_.toSeq).toSeq)
  }

  test("open order aging: only open orders, buckets cover max age") {
    val orders = Tables.orders(spark, sfDir)
    val rows = Analytics.openOrderAging(orders).collect()
    assert(rows.nonEmpty)
    val nOpen = orders.filter(col("o_orderstatus") === "O").count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum === nOpen)
    rows.foreach { r =>
      val (b, mx) = (r.getAs[Long]("age_bucket_30d"), r.getAs[Int]("max_age_days"))
      assert(mx >= b * 30 && mx < (b + 1) * 30,
        s"bucket $b must contain its own max age $mx")
      assert(r.getAs[Double]("open_value") > 0)
    }
  }

  test("time-decay attribution: 2^age weights, remainder to latest click") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def plus(secs: Long) = new Timestamp(t0.getTime + secs * 1000)
    // clicks at day 0 and day 2; purchase $10.00 at day 2+1h.
    // ages: click 11 → 0 days (w=64), click 10 → 2 days (w=16).
    // units=100000: shares 100000·64÷80=80000, 100000·16÷80=20000.
    val clicks = Seq((1L, 10L, plus(0)), (1L, 11L, plus(2L * 86400)))
      .toDF("key", "a_key", "a_date")
    val purchases = Seq((1L, 100L, plus(2L * 86400 + 3600), BigDecimal("10.00")))
      .toDF("key", "b_key", "b_date", "b_val")
    val r = Temporal.attributionTimeDecay(clicks, purchases, 7).collect()
      .map(x => x.getAs[Long]("click_id") -> x.getAs[Double]("attributed")).toMap
    assert(r === Map(11L -> 8.0, 10L -> 2.0))
    // remainder reconciliation: odd units split leaves the leftover
    // with the latest click; totals must equal the purchase exactly
    val p2 = Seq((1L, 100L, plus(2L * 86400 + 3600), BigDecimal("0.0001")))
      .toDF("key", "b_key", "b_date", "b_val")
    val r2 = Temporal.attributionTimeDecay(clicks, p2, 7).collect()
      .map(x => x.getAs[Long]("click_id") -> x.getAs[Double]("attributed")).toMap
    assert(r2(11L) + r2(10L) === 0.0001)
    assert(r2(11L) === 0.0001 && r2(10L) === 0.0, "1-unit value goes whole to latest")
  }

  test("dau anomalies: weekday baseline flags the spike day only") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 10:00:00")
    // five Mondays with DAU 2,2,3,3,10 → median 3, MAD 1 → only the
    // 10-user Monday flags (dev 7 > 3·1)
    val mondays = Seq("2024-01-01" -> 2, "2024-01-08" -> 2,
      "2024-01-15" -> 3, "2024-01-22" -> 3, "2024-01-29" -> 10)
    val rows = mondays.zipWithIndex.flatMap { case ((d, n), di) =>
      (1 to n).map(u => (di * 100L + u, ts(d), u.toLong, "click", 0.0, "{}"))
    }
    val ev = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Analytics.dauAnomalies(ev).collect()
      .map(x => x.getAs[String]("day") ->
        (x.getAs[Long]("dau"), x.getAs[Boolean]("is_anomaly"))).toMap
    assert(r.size === 5, "every day reported")
    assert(r("2024-01-29") === ((10L, true)))
    mondays.init.foreach { case (d, n) => assert(r(d) === ((n.toLong, false))) }
  }

  test("revenue gini: 0 for equality, high for a monopolist, bounded") {
    import spark.implicits._
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("1996-01-01 00:00:00")
    def orders(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, i.toLong, "O", v, ts)
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    // perfectly equal customers → Gini 0 (same bucket, trapezoid exact)
    val eq = Analytics.revenueGini(orders(Seq.fill(10)(100.0))).head()
    assert(eq.getAs[Long]("gini_bp") === 0L)
    // one customer holds ~everything → Gini near 1
    val mono = Analytics.revenueGini(
      orders(Seq.fill(9)(0.01) :+ 10000.0)).head()
    assert(mono.getAs[Long]("gini_bp") > 8500L)
    // real data: in (0, 10000)
    val real = Analytics.revenueGini(Tables.orders(spark, sfDir)).head()
    val g = real.getAs[Long]("gini_bp")
    assert(g > 0 && g < 10000)
  }

  test("pair sim histogram: bands reconcile with the pair set") {
    val docs = Tables.documents(spark, sfDir)
    val hist = Dedup.pairSimHistogram(docs).collect()
    assert(hist.nonEmpty)
    val nPairs = Dedup.minhashLsh(docs).count()
    assert(hist.map(_.getAs[Long]("n_pairs")).sum === nPairs)
    hist.foreach { r =>
      val b = r.getAs[Int]("sim_band_pct")
      assert(b >= 50 && b <= 100, s"band $b outside the LSH floor range")
    }
  }

  test("dup rate by source: every source reported, rates bounded and consistent") {
    val docs = Tables.documents(spark, sfDir)
    val rows = Dedup.dupRateBySource(docs).collect()
    assert(rows.map(_.getAs[String]("source")).toSet ===
      docs.select("source").distinct().collect().map(_.getString(0)).toSet)
    val totalDup = rows.map(_.getAs[Long]("n_dup_docs")).sum
    val pairDocs = Dedup.minhashLsh(docs)
      .select(explode(array(col("a"), col("b")))).distinct().count()
    assert(totalDup === pairDocs, "dup docs must reconcile with the pair set")
    rows.foreach { r =>
      val (n, d, bp) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup_docs"),
        r.getAs[Long]("dup_bp"))
      assert(d <= n && bp >= 0 && bp <= 10000)
      assert(math.abs(bp - 10000.0 * d / n) <= 1)
    }
  }

  test("ab test report: arms partition users, conversion consistent") {
    val rows = Analytics.abTestReport(Tables.events(spark, sfDir)).collect()
    assert(rows.map(_.getAs[String]("arm")).toSeq === Seq("A", "B"))
    val totalUsers = rows.map(_.getAs[Long]("n_users")).sum
    val distinctUsers = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "purchase"))
      .select("user_id").distinct().count()
    assert(totalUsers === distinctUsers, "arms must partition the users exactly")
    rows.foreach { r =>
      val (v, c, bp) = (r.getAs[Long]("n_viewed"), r.getAs[Long]("n_converted"),
        r.getAs[Long]("conv_bp"))
      assert(c <= v)
      assert(math.abs(bp - 10000.0 * c / v) <= 1, s"bp $bp vs ${10000.0 * c / v}")
    }
  }

  test("scd2 build: run-length versions with half-open validity") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def plus(secs: Long) = new Timestamp(t0.getTime + secs * 1000)
    // user 1: click, click (merged run), view, click — 3 versions
    val ev = Seq(
      (1L, plus(0), 1L, "click"), (2L, plus(10), 1L, "click"),
      (3L, plus(20), 1L, "view"), (4L, plus(30), 1L, "click"),
      (5L, plus(0), 2L, "signup"))
      .map { case (e, t, u, ty) => (e, t, u, ty, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Temporal.scd2Build(ev).collect()
      .map(x => (x.getAs[Long]("user_id"), x.getAs[Long]("version")) ->
        (x.getAs[String]("attr"), x.getAs[String]("valid_from"),
          x.getAs[String]("valid_to"))).toMap
    assert(r.size === 4)
    assert(r((1L, 1L)) ===
      (("click", "2024-01-01 00:00:00", "2024-01-01 00:00:20")))
    assert(r((1L, 2L)) ===
      (("view", "2024-01-01 00:00:20", "2024-01-01 00:00:30")))
    assert(r((1L, 3L))._1 === "click")
    assert(r((1L, 3L))._3 === null, "current version carries NULL valid_to")
    assert(r((2L, 1L))._3 === null)
  }

  test("trending terms: growth ranks new-half surges first") {
    import spark.implicits._
    // doc_ids 0..9, mid = 4: old half 0..3, new half 4..9.
    // 'surge' appears 6× only in the new half; 'flat' appears evenly.
    val docs = (0L to 9L).map { i =>
      val text = if (i >= 4) "surge flat" else "flat"
      (i, text, "en", "s", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.trendingTerms(docs, k = 10, minNew = 3L).collect()
      .map(x => x.getAs[String]("word") ->
        (x.getAs[Long]("tf_new"), x.getAs[Long]("tf_old"),
          x.getAs[Long]("growth_bp"))).toMap
    // surge: new 6, old 0 → (7·10⁴·2+1) div 2 = 70000 bp (7× smoothed)
    assert(r("surge") === ((6L, 0L, 70000L)))
    // flat: new 6, old 4 → (7·10⁴·2+5) div 10 = 14000 bp (1.4×)
    assert(r("flat") === ((6L, 4L, 14000L)))
  }

  test("edit distance pairs: order-sensitivity separates shuffles from copies") {
    import spark.implicits._
    // doc 2 is doc 1 verbatim (lev 0); doc 3 is doc 1's words REVERSED
    // — same shingle bag at word level but char-level order damage
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, base, "en", "s", base.length.toLong),
      (2L, base, "en", "s", base.length.toLong),
      (3L, base.split(" ").reverse.mkString(" "), "en", "s", base.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.editDistancePairs(docs, minSimBp = 0L).collect()
      .map(x => (x.getAs[Long]("a"), x.getAs[Long]("b")) ->
        (x.getAs[Long]("lev"), x.getAs[Long]("sim_bp"))).toMap
    assert(r((1L, 2L)) === ((0L, 10000L)), "identical docs: lev 0, sim 100%")
    r.get((1L, 3L)).foreach { case (lev, bp) =>
      assert(lev > 0 && bp < 10000L, "reversed doc must not score as a copy")
    }
    // real-data: every surviving pair clears the default floor
    val real = Dedup.editDistancePairs(Tables.documents(spark, sfDir)).collect()
    real.foreach(x => assert(x.getAs[Long]("sim_bp") >= 7000L))
  }

  test("activity rollup index: one file per day, twin equals direct path") {
    val t = "t_activity_idx"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // a killed previous run can leave the managed LOCATION behind with
    // no catalog entry — CREATE then fails on the stale directory
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmAll)
      f.delete()
    }
    val stale = new java.io.File(wh, t)
    if (stale.exists()) rmAll(stale)
    val ev = Tables.events(spark, sfDir)
    Analytics.writeActivityRollup(ev, t)
    // layout: one parquet file per day partition (small-file discipline
    // — the r6 partials-index lesson)
    val dirs = new java.io.File(wh, t).listFiles().filter(_.getName.startsWith("day="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getName}: ${files.length} files")
    }
    // value parity with the direct path
    val direct = Analytics.rollingActiveUsers(ev).collect().map(_.toSeq)
    val indexed = Analytics.rollingActiveUsersFrom(spark.table(t)).collect().map(_.toSeq)
    assert(direct.toSeq === indexed.toSeq)
    // window probe: the range predicate must prune to EXACTLY the
    // window's partitions (7 of the ~30 days present)
    val probe = Analytics.dauWindow(spark.table(t), "2024-01-08", "2024-01-14")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["),
      s"range must land on the partition column:\n$plan")
    assert(plan.contains("InMemoryFileIndex(7 paths)"),
      s"expected exactly the 7 window partitions read:\n$plan")
    assert(probe.collect().length === 7)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("cohort LTV: cumulative per-user value exact on synthetic cohorts") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 10:00:00")
    // cohort 2024-01: users 1, 2. user 1 buys $10 in Jan (offset 0)
    // and $20 in Mar (offset 2); user 2 never buys.
    // cohort 2024-02: user 3 buys $5 in Feb (offset 0).
    val ev = Seq(
      (1L, "2024-01-05", 1L, "signup", 0.0),
      (2L, "2024-01-06", 1L, "purchase", 10.0),
      (3L, "2024-03-15", 1L, "purchase", 20.0),
      (4L, "2024-01-20", 2L, "click", 0.0),
      (5L, "2024-02-01", 3L, "purchase", 5.0))
      .map { case (e, d, u, t, v) => (e, ts(d), u, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Analytics.cohortLtv(ev).collect()
      .map(x => (x.getAs[String]("cohort_month"), x.getAs[Long]("month_offset")) ->
        (x.getAs[Long]("n_users"), x.getAs[Double]("cum_revenue"),
          x.getAs[Double]("cum_ltv_per_user"))).toMap
    assert(r(("2024-01", 0L)) === ((2L, 10.0, 5.0)))
    assert(r(("2024-01", 2L)) === ((2L, 30.0, 15.0)))
    assert(r(("2024-02", 0L)) === ((1L, 5.0, 5.0)))
    assert(!r.contains(("2024-01", 1L)), "no purchases at offset 1 → no row")
  }

  test("label outliers: farthest vectors rank first, distances exact integers") {
    val out = Similarity.labelOutliers(Tables.embeddings(spark, sfDir)).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Int]("label")).foreach { case (_, rows) =>
      val byRn = rows.sortBy(_.getAs[Int]("rn"))
      val ds = byRn.map(_.getAs[Double]("dist2x"))
      assert(ds.zip(ds.tail).forall { case (a, b) => a >= b },
        "distance must be non-increasing in rank")
      // cross-multiplied distances are integers by construction
      ds.foreach(d => assert(d == math.rint(d)))
    }
  }

  test("logprob cutoffs: per-lang nearest-rank thresholds are ordered") {
    val docs = Tables.documents(spark, sfDir)
    val out = Corpus.logprobCutoffs(docs).collect()
    assert(out.nonEmpty)
    val langs = docs.select("lang").distinct().count()
    // every language with docs gets rows; cut points rise with p
    out.groupBy(_.getAs[String]("lang")).foreach { case (_, rows) =>
      val byP = rows.sortBy(_.getAs[Long]("p"))
      val cuts = byP.map(_.getAs[Double]("cutoff"))
      assert(cuts.zip(cuts.tail).forall { case (a, b) => a <= b },
        s"cutoffs must be non-decreasing in p: ${cuts.toSeq}")
    }
    assert(out.map(_.getAs[String]("lang")).distinct.length === langs)
    // each cutoff is an actual document score (nearest-rank, not
    // interpolated)
    val scores = Corpus.docLogprob(docs).collect()
      .map(_.getAs[Double]("avg_logprob")).toSet
    out.foreach(r => assert(scores.contains(r.getAs[Double]("cutoff"))))
  }

  test("vocab coverage: monotone curve reaching full mass at full vocab") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b b c", "en", "s", 11L),
      (2L, "a d", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // tf: a=4, b=2, c=1, d=1 (ties break by word) → total 8
    val r = Corpus.vocabCoverage(docs, ks = Seq(1, 2, 4)).collect()
      .map(x => x.getAs[Int]("k") ->
        (x.getAs[Long]("covered_tokens"), x.getAs[Long]("coverage_bp"))).toMap
    assert(r(1) === ((4L, 5000L)))
    assert(r(2) === ((6L, 7500L)))
    assert(r(4) === ((8L, 10000L)))
    // real-data: curve is monotone and k=max covers the most
    val real = Corpus.vocabCoverage(Tables.documents(spark, sfDir)).collect()
    val bps = real.sortBy(_.getAs[Int]("k")).map(_.getAs[Long]("coverage_bp"))
    assert(bps.zip(bps.tail).forall { case (a, b) => a <= b })
  }

  test("fulfillment latency: integer-day averages consistent per priority") {
    val rows = Analytics.fulfillmentLatency(Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, avg, mn, mx) = (r.getAs[Long]("n_lines"), r.getAs[Double]("avg_days"),
        r.getAs[Int]("min_days"), r.getAs[Int]("max_days"))
      assert(n > 0 && mn <= mx)
      assert(avg >= mn - 0.01 && avg <= mx + 0.01)
    }
  }

  test("q10 returned items: only R lines count, top-k ordered") {
    val out = Analytics.returnedItems(Tables.customer(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir),
      Tables.nation(spark, sfDir)).collect()
    assert(out.nonEmpty && out.length <= 20)
    val revs = out.map(_.getAs[Double]("returned_revenue"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
    // cross-check one customer brute-force
    val c = out.head.getAs[Long]("c_custkey")
    val brute = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, sfDir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_custkey") === c)
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")).cast("decimal(4,2)")), 2)
        .cast("double")).head().getDouble(0)
    assert(out.head.getAs[Double]("returned_revenue") === brute)
  }

  test("dn retention: anchored offsets exact on synthetic users") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 09:00:00")
    // user 1: anchor Jan 1, back on Jan 2 (d1) and Jan 8 (d7)
    // user 2: anchor Jan 1 only
    // user 3: anchor Jan 5, back Feb 2 (d28)
    val ev = Seq(
      (1L, "2024-01-01", 1L), (2L, "2024-01-02", 1L), (3L, "2024-01-08", 1L),
      (4L, "2024-01-01", 2L),
      (5L, "2024-01-05", 3L), (6L, "2024-02-02", 3L))
      .map { case (e, d, u) => (e, ts(d), u, "click", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Analytics.dnRetention(ev).collect()
      .map(x => x.getAs[Int]("day_offset") ->
        (x.getAs[Long]("n_retained"), x.getAs[Long]("n_cohort"),
          x.getAs[Long]("retention_bp"))).toMap
    assert(r(1) === ((1L, 3L, 3333L)))
    assert(r(7) === ((1L, 3L, 3333L)))
    assert(r(28) === ((1L, 3L, 3333L)))
    assert(!r.contains(14), "no user returns at exactly d14")
  }

  test("q6 filter-only aggregate: filters reach the parquet scan") {
    val out = Analytics.forecastRevenue(Tables.lineitem(spark, sfDir))
    val r = out.head()
    assert(r.getAs[Long]("n_lines") > 0)
    assert(r.getAs[Double]("revenue_delta") > 0)
    // pushdown probe: the scan node must carry pushed filters
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("IsNotNull(l_shipdate)"),
      s"expected pushed parquet filters in:\n$plan")
  }

  test("q9 profit: synthetic-cost convention exact on known rows") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    val li = Seq((1L, 1L, 10L, 2.0, 100.0, 0.10),
                 (1L, 2L, 10L, 1.0, 50.0, 0.0))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount")
    val part = Seq((1L, "red widget", 30.0), (2L, "blue bolt", 10.0))
      .toDF("p_partkey", "p_name", "p_retailprice")
    val supplier = Seq((10L, "s", 7, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val nation = Seq((7, "NATION_7", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
    val orders = Seq((1L, ts("1996-05-01"))).toDF("o_orderkey", "o_orderdate")
    val r = Analytics.profitByNation(li, orders, supplier, nation, part).collect()
    // only the widget row: 100·0.9 − 30·2·0.5 = 90 − 30 = 60
    assert(r.length === 1)
    assert(r.head.getAs[String]("nation") === "NATION_7")
    assert(r.head.getAs[Int]("o_year") === 1996)
    assert(r.head.getAs[Double]("profit") === 60.0)
  }

  test("region MoM growth: signed basis points against its own columns") {
    val rows = Analytics.regionMomGrowth(Tables.region(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.orders(spark, sfDir)).collect()
    assert(rows.nonEmpty)
    val firstByRegion = rows.groupBy(_.getAs[String]("r_name"))
      .map { case (k, rs) => k -> rs.minBy(_.getAs[String]("month")) }
    firstByRegion.values.foreach(r =>
      assert(r.isNullAt(r.fieldIndex("growth_bp")), "first month has no prev"))
    rows.filter(!_.isNullAt(4)).foreach { r =>
      val (cur, prev, bp) = (r.getAs[Double]("revenue"),
        r.getAs[Double]("prev_revenue"), r.getAs[Long]("growth_bp"))
      assert(math.abs(bp / 10000.0 - (cur - prev) / prev) < 0.001,
        s"$cur $prev $bp")
    }
  }

  test("power iteration recovers the dominant axis of a stretched cloud") {
    import spark.implicits._
    // 2-D synthetic: points hugging the x-axis (variance 100:1) — the
    // top component must be ±e_x within rounding
    val pts = (1 to 50).map { i =>
      val s = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array(s * 10.0f + i * 0.01f, s * 0.1f), 0)
    }.toDF("vec_id", "embedding", "label")
    val r = Similarity.embedPcaPower(pts, iters = 8).collect()
    assert(r.length === 2)
    val comp = r.map(x => x.getAs[Int]("dim") -> x.getAs[Double]("component")).toMap
    assert(math.abs(math.abs(comp(0)) - 1.0) < 0.01,
      s"dominant axis should be ~±1 on dim 0, got ${comp(0)}")
    assert(math.abs(comp(1)) < 0.05, s"dim 1 should be ~0, got ${comp(1)}")
    val eig = r.head.getAs[Double]("eigenvalue")
    assert(eig > 0)
    // determinism: a different partitioning yields the identical result
    val r2 = Similarity.embedPcaPower(pts.repartition(7), iters = 8).collect()
    assert(r.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq,
      "per-step decimal re-sync must make the trajectory partitioning-invariant")
  }

  test("hard negatives excludes gram-overlapping candidates, keeps top-k shape") {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.hardNegatives(docs, emb).collect()
    assert(out.nonEmpty)
    // per-query: rn is 1..k dense, sims are non-increasing
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq === (1 to sorted.length))
      val sims = sorted.map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    // no returned candidate shares an 8-gram with its query
    import graft.plans.HashExprs
    import graft.functions.TextAnalysis
    val grams = docs.select(col("doc_id"),
      explode(HashExprs.wordNgrams(TextAnalysis.normalizeWs(col("text")), 8)).as("gram"))
    val gramSets = grams.collect().groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[String]("gram")).toSet }
    out.foreach { r =>
      val (q, v) = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      val shared = gramSets.getOrElse(q, Set.empty) intersect gramSets.getOrElse(v, Set.empty)
      assert(shared.isEmpty, s"candidate $v shares grams with query $q")
    }
  }

  test("basket affinity: pair counts, lift, and min-support exact") {
    import spark.implicits._
    // orders: {1,2} ×3 (lift support), {1,3} ×1 (below minBoth)
    val li = Seq(
      (100L, 1L), (100L, 2L), (100L, 1L), // dup line must not double-count
      (200L, 1L), (200L, 2L),
      (300L, 1L), (300L, 2L),
      (400L, 1L), (400L, 3L),
      (500L, 9L))
      .toDF("l_orderkey", "l_partkey")
    val r = Analytics.basketAffinity(li, minBoth = 3, k = 10).collect()
    assert(r.length === 1, "only the {1,2} pair clears min support")
    val row = r.head
    assert((row.getAs[Long]("p1"), row.getAs[Long]("p2")) === ((1L, 2L)))
    assert(row.getAs[Long]("n_both") === 3L)
    // N=5 orders, n1=4, n2=3 → lift = 5·3/(4·3) = 1.25
    assert(row.getAs[Double]("lift") === 1.25)
  }

  test("revenue concentration: cumulative shares reach 100% and are monotone") {
    val out = Analytics.revenueConcentration(Tables.orders(spark, sfDir)).collect()
    assert(out.nonEmpty && out.length <= 10001)
    val last = out.last
    assert(last.getAs[Long]("cum_cust_bp") === 10000L)
    assert(last.getAs[Long]("cum_revenue_bp") === 10000L)
    // Lorenz property: sorted ascending by revenue bucket, the
    // revenue share can never exceed the customer share
    out.foreach { r =>
      assert(r.getAs[Long]("cum_revenue_bp") <= r.getAs[Long]("cum_cust_bp") + 1,
        s"bucket ${r.getAs[Long]("bucket")}")
    }
    val cum = out.map(_.getAs[Long]("cum_customers"))
    assert(cum.zip(cum.tail).forall { case (a, b) => a < b })
  }

  test("session funnel: order-sensitive depth on synthetic sessions") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def plus(secs: Long) = new Timestamp(t0.getTime + secs * 1000)
    val ev = Seq(
      // user 1 session A: view → click → purchase (depth 3)
      (1L, plus(0), 1L, "view"), (2L, plus(10), 1L, "click"),
      (3L, plus(20), 1L, "purchase"),
      // user 1 session B (gap > 1800 s): purchase BEFORE view→click —
      // order matters: depth is 2 (view→click), not 3
      (4L, plus(4000), 1L, "purchase"), (5L, plus(4010), 1L, "view"),
      (6L, plus(4020), 1L, "click"),
      // user 2: error only → depth 0
      (7L, plus(0), 2L, "error"),
      // user 3: click then view, no click after view → depth 1
      (8L, plus(0), 3L, "click"), (9L, plus(10), 3L, "view"))
      .map { case (e, t, u, ty) => (e, t, u, ty, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Analytics.sessionFunnel(ev).collect()
      .map(x => x.getAs[Int]("depth") -> x.getAs[Long]("n_sessions")).toMap
    assert(r === Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L))
  }

  test("rolling DAU/MAU: window expiry and stickiness exact") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 12:00:00")
    // user 1 active Jan 1 and Feb 9 (39 days later — outside the
    // 28-day window); user 2 active Jan 1 only. Feb 9's MAU must NOT
    // count user 1's January activity.
    val ev = Seq(
      (1L, ts("2024-01-01"), 1L), (2L, ts("2024-01-01"), 1L), // same-day dup
      (3L, ts("2024-01-01"), 2L),
      (4L, ts("2024-02-09"), 1L))
      .map { case (e, t, u) => (e, t, u, "click", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Analytics.rollingActiveUsers(ev).collect()
      .map(x => x.getAs[String]("day") ->
        (x.getAs[Long]("dau"), x.getAs[Long]("mau"),
          x.getAs[Double]("stickiness"))).toMap
    assert(r("2024-01-01") === ((2L, 2L, 1.0)))
    assert(r("2024-02-09") === ((1L, 1L, 1.0)))
    assert(r.size === 2, "only days with activity are reported")
    // a second user inside the window changes MAU but not DAU
    val ev2 = ev.union(Seq((5L, ts("2024-01-20"), 2L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r2 = Analytics.rollingActiveUsers(ev2).collect()
      .map(x => x.getAs[String]("day") ->
        (x.getAs[Long]("dau"), x.getAs[Long]("mau"),
          x.getAs[Double]("stickiness"))).toMap
    // Feb 9: user 2 active Jan 20 (20 days back, inside 28) → MAU 2
    assert(r2("2024-02-09") === ((1L, 2L, 0.5)))
  }

  test("conversion lag: as-of window, cutoffs, and hour buckets exact") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def plus(secs: Long) = new Timestamp(t0.getTime + secs * 1000)
    val ev = Seq(
      // user 1: click, purchase 90 min later → bucket 1
      (1L, t0, 1L, "click"), (2L, plus(5400), 1L, "purchase"),
      // user 2: purchase with NO prior click → dropped
      (3L, t0, 2L, "purchase"),
      // user 3: click then purchase 8 days later → outside 7d cutoff
      (4L, t0, 3L, "click"), (5L, plus(8L * 86400), 3L, "purchase"),
      // user 4: click and purchase at the SAME ts (click's event_id
      // lower → visible) → lag 0, bucket 0
      (6L, t0, 4L, "click"), (7L, t0, 4L, "purchase"),
      // user 5: two clicks then purchase — lag from the LATEST click
      (8L, t0, 5L, "click"), (9L, plus(7200), 5L, "click"),
      (10L, plus(7200 + 60), 5L, "purchase")) // 60 s after 2nd click → bucket 0
      .map { case (e, t, u, ty) => (e, t, u, ty, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Analytics.conversionLag(ev).collect()
      .map(x => x.getAs[Long]("lag_hours") -> x.getAs[Long]("n_conversions")).toMap
    assert(r === Map(0L -> 2L, 1L -> 1L))
  }

  test("bigram logprob: conditional transitions exact on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b", "en", "s", 7L),
      (2L, "a c", "en", "s", 3L),
      (3L, "solo", "en", "s", 4L)) // single token → no bigrams → excluded
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.docLogprobBigram(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_bigrams"), x.getAs[Double]("avg_logprob"))).toMap
    // corpus bigrams: (a,b)=2, (b,a)=1, (a,c)=1 → ctx a=3, b=1
    // lp(a,b)=ln(2/3), lp(b,a)=ln(1/1)=0, lp(a,c)=ln(1/3), each 6dp
    val lpAB = BigDecimal(math.log(2.0 / 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lpAC = BigDecimal(math.log(1.0 / 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.keySet === Set(1L, 2L))
    assert(r(1L) === ((3L, r4((2 * lpAB + 0.0) / 3))))
    assert(r(2L) === ((1L, r4(lpAC))))
  }

  test("audience overlap: pair counts and Jaccard exact on synthetic users") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // users 1,2 did {a,b}; user 3 did {a}; user 4 did {b,c}
    val ev = Seq(
      (1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "a"), // dup (1,a) row
      (4L, 2L, "a"), (5L, 2L, "b"),
      (6L, 3L, "a"),
      (7L, 4L, "b"), (8L, 4L, "c"))
      .map { case (e, u, t) => (e, t0, u, t, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Analytics.audienceOverlap(ev).collect()
      .map(x => (x.getAs[String]("t1"), x.getAs[String]("t2")) ->
        (x.getAs[Long]("n_both"), x.getAs[Double]("jaccard"))).toMap
    // audiences: a={1,2,3}, b={1,2,4}, c={4}
    // (a,b): both=2, either=4 → 0.5; (b,c): both=1, either=3 → 0.3333
    assert(r(("a", "b")) === ((2L, 0.5)))
    assert(r(("b", "c")) === ((1L, 0.3333)))
    assert(!r.contains(("a", "c")), "no shared user → no row")
  }

  test("user streaks: islands split exactly on missing days") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 10:00:00")
    // user 1: Jan 1,2,3 then 5 → streaks [3,1]; duplicate same-day
    // events must not extend a streak. user 2: single day.
    val ev = Seq(
      (1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"),
      (4L, "2024-01-03"), (5L, "2024-01-05"),
      (6L, "2024-02-01"))
      .map { case (e, d) =>
        (e, ts(d), if (e <= 5) 1L else 2L, "click", 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Analytics.userStreaks(ev).collect()
      .map(x => x.getAs[Long]("user_id") ->
        (x.getAs[Long]("n_active_days"), x.getAs[Long]("n_streaks"),
          x.getAs[Long]("longest_streak"))).toMap
    assert(r(1L) === ((4L, 2L, 3L)))
    assert(r(2L) === ((1L, 1L, 1L)))
  }

  test("source vocab jaccard: inclusion-exclusion exact on synthetic sources") {
    import spark.implicits._
    val docs = Seq(
      (1L, "cat dog cat", "en", "srcA", 11L),   // A vocab {cat, dog}
      (2L, "dog bird", "en", "srcB", 8L),       // B vocab {dog, bird}
      (3L, "fish", "en", "srcC", 4L))           // C vocab {fish}
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.sourceVocabJaccard(docs).collect()
    assert(r.length === 1, "only A∩B share a word")
    val row = r.head
    assert((row.getAs[String]("s1"), row.getAs[String]("s2")) === (("srcA", "srcB")))
    // both=1 (dog), either=3 → 0.3333
    assert(row.getAs[Long]("n_both") === 1L)
    assert(row.getAs[Double]("jaccard") === 0.3333)
  }

  test("q7 nation volume: cross-direction only, exact on synthetic trade") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")
    // supplier 1 in NATION_1, supplier 2 in NATION_2; customer 10 in
    // NATION_1, customer 20 in NATION_2. Order 100 (cust 20) buys from
    // supp 1 → (N1 → N2); order 200 (cust 10) from supp 2 → (N2 → N1);
    // order 300 (cust 10) from supp 1 → same-nation, must be dropped.
    val nation = Seq((1, "NATION_1", 0), (2, "NATION_2", 0))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val supplier = Seq((1L, "s1", 1, 0.0), (2L, "s2", 2, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val customer = Seq((10L, "c10", 1, 0.0, "X"), (20L, "c20", 2, 0.0, "X"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val orders = Seq((100L, 20L), (200L, 10L), (300L, 10L))
      .toDF("o_orderkey", "o_custkey")
    val li = Seq(
      (100L, 1L, ts("1996-06-01"), 100.0, 0.10),
      (100L, 1L, ts("1997-06-01"), 50.0, 0.00),
      (200L, 2L, ts("1996-01-15"), 200.0, 0.50),
      (300L, 1L, ts("1996-03-01"), 999.0, 0.00),  // same-nation
      (100L, 1L, ts("1995-01-01"), 777.0, 0.00))  // outside year range
      .toDF("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    val r = Analytics.nationVolume(li, orders, customer, supplier, nation)
      .collect()
      .map(x => (x.getAs[String]("supp_nation"), x.getAs[String]("cust_nation"),
        x.getAs[Int]("l_year")) -> x.getAs[Double]("revenue")).toMap
    assert(r === Map(
      ("NATION_1", "NATION_2", 1996) -> 90.0,
      ("NATION_1", "NATION_2", 1997) -> 50.0,
      ("NATION_2", "NATION_1", 1996) -> 100.0))
    // real-data sanity: no same-nation groups ever
    val real = Analytics.nationVolume(Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.supplier(spark, sfDir), Tables.nation(spark, sfDir)).collect()
    assert(real.forall(x =>
      x.getAs[String]("supp_nation") != x.getAs[String]("cust_nation")))
  }

  test("q8 market share: pct consistent with its own sums, bounded") {
    val rows = Analytics.marketShare(Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.supplier(spark, sfDir), Tables.nation(spark, sfDir),
      Tables.region(spark, sfDir), Tables.part(spark, sfDir)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, t, pct) = (r.getAs[Double]("nation_revenue"),
        r.getAs[Double]("total_revenue"), r.getAs[Double]("mkt_share_pct"))
      assert(n >= 0 && n <= t)
      assert(pct >= 0 && pct <= 100)
      assert(math.abs(pct - 100.0 * n / t) < 0.01)
    }
  }

  test("q15 top supplier: all rows carry the global max, no global window") {
    val li = Tables.lineitem(spark, sfDir)
    val out = Analytics.topSupplier(li, Tables.supplier(spark, sfDir))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "Q15 must broadcast a one-row max, not window")
    val rows = out.collect()
    assert(rows.nonEmpty)
    // recompute the max brute-force over the same quarter
    val rev = (col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")).cast("decimal(4,2)"))
    val best = li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey").agg(round(sum(rev), 2).cast("double").as("r"))
      .agg(max("r")).head().getDouble(0)
    rows.foreach(r => assert(r.getAs[Double]("total_revenue") === best))
  }

  test("q17 small-qty threshold decides boundary rows exactly") {
    import spark.implicits._
    // part 1: qtys 1,4,4,4,4,4 → sum=21, cnt=6, avg=3.5, 0.2·avg=0.7 →
    // only qty<0.7 qualifies: none (qty 1 is NOT < 0.7)… so use a mix
    // where exactly the qty-1 rows clear the bar: qtys 1,9,9,9,9,9 →
    // sum=46, cnt=6, 0.2·avg≈1.533 → qty 1 qualifies (1·5·6=30 < 46),
    // qty 9 doesn't (270 > 46). Boundary: qty·5·cnt == sum must NOT
    // qualify (strict <): part 2 qtys 2,2,2,2,2 → 2·5·5=50 == sum? sum
    // =10 → 50<10 false; use part 2 qtys 4,16 → sum=20, cnt=2: qty 4 →
    // 4·5·2=40 < 20 false; avg=10, 0.2avg=2 → nothing qualifies. Good
    // as an all-excluded control.
    val li = Seq(
      (1L, 1.0, 100.0), (1L, 9.0, 10.0), (1L, 9.0, 10.0),
      (1L, 9.0, 10.0), (1L, 9.0, 10.0), (1L, 9.0, 10.0),
      (2L, 4.0, 55.0), (2L, 16.0, 66.0),
      (3L, 1.0, 999.0)) // Brand#99 part — excluded by the brand filter
      .toDF("l_partkey", "l_quantity", "l_extendedprice")
    val part = Seq((1L, "Brand#12"), (2L, "Brand#12"), (3L, "Brand#99"))
      .toDF("p_partkey", "p_brand")
    val r = Analytics.smallQtyRevenue(li, part).head()
    assert(r.getAs[Long]("n_small") === 1L)
    // 100.00 / 7 = 14.285714… → cents (2·10000+7) div 14 = 1429 → 14.29
    assert(r.getAs[Double]("avg_yearly") === 14.29)
  }

  test("q16 variety counts distinct suppliers once per bucket") {
    import spark.implicits._
    val li = Seq(
      (1L, 10L), (1L, 10L), (1L, 20L),   // part 1: suppliers {10, 20}
      (2L, 10L),                          // part 2 same bucket as 1
      (3L, 30L))                          // excluded brand
      .toDF("l_partkey", "l_suppkey")
    val part = Seq(
      (1L, "Brand#2", "SMALL", 1), (2L, "Brand#2", "SMALL", 1),
      (3L, "Brand#1", "SMALL", 1))
      .toDF("p_partkey", "p_brand", "p_type", "p_size")
    val r = Analytics.supplierVariety(li, part).collect()
    assert(r.length === 1)
    // bucket (Brand#2, SMALL, 1): suppliers {10, 20} — the duplicate
    // (1,10) row and the second part in the bucket must not inflate
    assert(r.head.getAs[Long]("supplier_cnt") === 2L)
  }

  test("q20 excess threshold is strict 1.5×-mean, cross-multiplied") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("1996-06-01 00:00:00")
    // part 1: supplier 10 ships 9, supplier 20 ships 3 → mean 6,
    // 1.5×mean = 9: 9·2·2 = 36 > 12·3 = 36 is FALSE (strict) — no one
    // is excess. part 2: 10 ships 10, 20 ships 2 → 10·2·2 = 40 > 36 →
    // supplier 10 is excess. part 3 fails the name filter.
    val li = Seq(
      (1L, 10L, 9.0, t), (1L, 20L, 3.0, t),
      (2L, 10L, 10.0, t), (2L, 20L, 2.0, t),
      (3L, 30L, 99.0, t))
      .toDF("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
    val part = Seq((1L, "large bolt"), (2L, "large rod"), (3L, "blue rod"))
      .toDF("p_partkey", "p_name")
    val supplier = Seq((10L, "S10", 1L), (20L, "S20", 1L), (30L, "S30", 1L))
      .toDF("s_suppkey", "s_name", "s_nationkey")
    val nation = Seq((1L, "N1")).toDF("n_nationkey", "n_name")
    val r = Analytics.excessSuppliers(li, supplier, nation, part).collect()
    assert(r.map(_.getAs[Long]("s_suppkey")).toSeq === Seq(10L))
  }

  test("q21 keeps only the sole late shipper of multi-supplier orders") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    // order 1: suppliers 10 (late) + 20 (on time) → 10 counts.
    // order 2: both late → n_late=2, nobody counts.
    // order 3: single-supplier late → n_supp=1, doesn't count.
    val li = Seq(
      (1L, 10L, d("1996-06-01")), (1L, 20L, d("1996-01-15")),
      (2L, 10L, d("1996-06-01")), (2L, 20L, d("1996-06-01")),
      (3L, 10L, d("1996-06-01")))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val orders = Seq((1L, d("1996-01-01")), (2L, d("1996-01-01")),
      (3L, d("1996-01-01"))).toDF("o_orderkey", "o_orderdate")
    val supplier = Seq((10L, "S10"), (20L, "S20"))
      .toDF("s_suppkey", "s_name")
    val r = Analytics.lateSoleSuppliers(li, orders, supplier).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("s_suppkey") === 10L)
    assert(r.head.getAs[Long]("numwait") === 1L)
  }

  test("q2 keeps min-cost ties and only regional suppliers") {
    import spark.implicits._
    // part 1: supplier 10 offers 5.00 twice + 6.00, supplier 20 offers
    // 5.00 → BOTH tie at the 500-cent min and both rows survive.
    // supplier 30 offers 1.00 but sits outside the region → ignored.
    val li = Seq(
      (1L, 10L, 5.00), (1L, 10L, 6.00), (1L, 10L, 5.00),
      (1L, 20L, 5.00), (1L, 30L, 1.00))
      .toDF("l_partkey", "l_suppkey", "l_extendedprice")
    val supplier = Seq((10L, "S10", 1L, 100.0), (20L, "S20", 1L, 50.0),
      (30L, "S30", 2L, 999.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val nation = Seq((1L, "N1", 0L), (2L, "N2", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val region = Seq((0L, "EUROPE"), (1L, "ASIA"))
      .toDF("r_regionkey", "r_name")
    val part = Seq((1L, "p one", 15), (2L, "p two", 2))
      .toDF("p_partkey", "p_name", "p_size")
    val r = Analytics.minCostRegionSupplier(li, supplier, nation, region, part)
      .collect()
    assert(r.map(_.getAs[String]("s_name")).toSeq === Seq("S10", "S20"))
    // the emitted key pair makes the LIMIT's total order name-independent
    assert(r.map(_.getAs[Long]("s_suppkey")).toSeq === Seq(10L, 20L))
    assert(r.forall(_.getAs[Double]("supply_cost") === 5.0))
  }

  test("q12 splits line counts by order priority class") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("1996-06-01 00:00:00")
    val out = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    val li = Seq(
      (1L, "R", t), (1L, "R", t), (2L, "A", t),
      (2L, "R", out)) // outside the ship window → dropped
      .toDF("l_orderkey", "l_returnflag", "l_shipdate")
    val orders = Seq((1L, "1-URGENT"), (2L, "5-LOW"))
      .toDF("o_orderkey", "o_orderpriority")
    val r = Analytics.shipClassPriority(li, orders).collect()
      .map(x => x.getAs[String]("ship_class") ->
        (x.getAs[Long]("high_line_count"), x.getAs[Long]("low_line_count"))).toMap
    assert(r("R") === ((2L, 0L)))
    assert(r("A") === ((0L, 1L)))
  }

  test("ann recall report covers every query and bounds hits by k") {
    val r = Similarity
      .recallReport(Tables.embeddings(spark, sfDir), k = 5).collect()
    // one row per query vector, including any zero-recall query
    assert(r.length === 10)
    assert(r.map(_.getAs[Long]("query_id")).toSeq === (0L until 500L by 50L))
    r.foreach { row =>
      val hits = row.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= 5L)
      // bp identity consistency: recall_bp = round(10⁴·hits/5)
      assert(row.getAs[Long]("recall_bp") === (2 * hits * 10000 + 5) / 10)
    }
  }

  test("ccnet buckets: per-lang terciles by corpus-unigram fluency") {
    import spark.implicits._
    // en corpus LM: 'the' dominates → the all-'the' doc is most fluent
    val docs = Seq(
      (1L, "the the the the", "en"),
      (2L, "the cat", "en"),
      (3L, "zxqv qqq", "en"),
      (4L, "solo", "fr")) // single-doc lang: (rn−1)·3 div 1 = 0 → tail
      .toDF("doc_id", "text", "lang")
    val r = Corpus.ccnetBuckets(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("bucket")).toMap
    assert(r(1L) === "head")
    assert(r(2L) === "middle")
    assert(r(3L) === "tail")
    assert(r(4L) === "tail")
  }

  test("source_kl: symmetric off-corpus sources score equal positive KL") {
    import spark.implicits._
    // corpus: a×3, b×3; s1 leans a, s2 leans b — mirror-image skews
    val docs = Seq(
      (1L, "a a b", "en", "s1"),
      (2L, "a b b", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val r = Corpus.sourceKl(docs).collect()
      .map(x => x.getAs[String]("source") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Double]("kl"))).toMap
    // KL = (2·ln(4/3) + 1·ln(2/3))/3 = 0.056633 for both by symmetry
    assert(r("s1") === ((3L, 0.056633)))
    assert(r("s2") === ((3L, 0.056633)))
  }

  test("zipf_slope recovers −1 on an exact power-law vocabulary") {
    import spark.implicits._
    // tf = 12/rank exactly: 12, 6, 4, 3 → ln tf = ln 12 − ln rank
    val text = (Seq.fill(12)("w1") ++ Seq.fill(6)("w2") ++
      Seq.fill(4)("w3") ++ Seq.fill(3)("w4")).mkString(" ")
    val docs = Seq((1L, text, "en")).toDF("doc_id", "text", "lang")
    val r = Corpus.zipfSlope(docs).head()
    assert(r.getAs[Long]("n_terms") === 4L)
    assert(math.abs(r.getAs[Double]("slope") - (-1.0)) < 1e-4)
    // intercept ≈ ln 12 = 2.484907
    assert(math.abs(r.getAs[Double]("intercept") - 2.484907) < 1e-4)
  }

  test("dsir_logratio: target-only words score up, off-target down") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a", "en"), // target doc: its word is in the target LM
      (2L, "b b", "fr")) // off-target vocabulary
      .toDF("doc_id", "text", "lang")
    val r = Corpus.dsirLogratio(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("log_ratio")).toMap
    // lr(a) = ln(3·6/(4·3)) = ln 1.5 → 0.4055; lr(b) = ln(1·6/(4·3)) = ln 0.5
    assert(r(1L) === 0.4055)
    assert(r(2L) === -0.6931)
  }

  test("pack_efficiency: per-shard fill from the pack window, capacity bounds hold") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five", "en"),          // 5 tokens
      (2L, ("w " * 600).trim, "en"))                  // 600 tokens
      .toDF("doc_id", "text", "lang")
    val eff = graft.operators.Corpus.packEfficiency(docs).collect()
    val packed = graft.operators.Corpus.packSequences(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Int]("shard")) -> r).toMap
    eff.foreach { r =>
      val (tot, seqs, cap, fill) = (r.getAs[Long]("total_tokens"),
        r.getAs[Long]("n_seqs"), r.getAs[Long]("capacity"), r.getAs[Long]("fill_bp"))
      assert(cap === seqs * 512)
      assert(tot <= cap, "tokens can never exceed sequence capacity")
      assert(fill === (2 * tot * 10000 + cap) / (2 * cap)) // the HALF_UP identity
    }
    // one-doc shard: 5 tokens in one 512 sequence → 98 bp (round(97.65))
    val solo = eff.find(_.getAs[Long]("n_docs") == 1).get
    if (solo.getAs[Long]("total_tokens") == 5L)
      assert(solo.getAs[Long]("fill_bp") === 98L)
    assert(packed.nonEmpty) // both views exist over the same window
  }

  test("dsir_resample: target-like docs always kept, keep_bp capped and bucket-decided") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a", "en"), // lr > 0 → keep_bp caps at 10^4 → always kept
      (2L, "b b", "fr"))
      .toDF("doc_id", "text", "lang")
    val r = Corpus.dsirResample(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // lr(1) = 0.4055 > 0: exp > 1 → capped at 10000; every bucket
    // (< 100 → ·100 ≤ 9900) is below the cap → kept
    assert(r(1L).getAs[Long]("keep_bp") === 10000L)
    assert(r(1L).getAs[Boolean]("kept"))
    // lr(2) = −0.6931: keep_bp = round(exp(−0.6931)·10⁴) = 5000
    assert(r(2L).getAs[Long]("keep_bp") === 5000L)
    // the decision IS the weighted-sample bucket rule, re-derived
    val bucket2 = Seq(2L).toDF("doc_id")
      .select(graft.operators.Sampling.hashBucket(col("doc_id")))
      .head().getInt(0)
    assert(r(2L).getAs[Boolean]("kept") === (bucket2 * 100 < 5000))
  }

  test("q11 important-parts threshold is strict on the boundary") {
    import spark.implicits._
    // values 97 and 3 of total 100 at a 3% (300 bp) threshold:
    // 3·10⁴ = 100·300 exactly — the boundary part must NOT pass
    val li = Seq((1L, 10L, 97.0), (2L, 10L, 3.0))
      .toDF("l_partkey", "l_suppkey", "l_extendedprice")
    val supplier = Seq((10L, 1L)).toDF("s_suppkey", "s_nationkey")
    val nation = Seq((1L, "N1")).toDF("n_nationkey", "n_name")
    val r = Analytics.importantParts(li, supplier, nation,
      nationName = "N1", fracBp = 300L).collect()
    assert(r.map(_.getAs[Long]("l_partkey")).toSeq === Seq(1L))
    assert(r(0).getAs[Double]("part_value") === 97.0)
  }

  test("hll overlap: inclusion-exclusion estimate within bound of exact") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // users 1..4 click; users 3..6 view → overlap {3,4} = 2
    val ev = ((1 to 4).map(u => (u.toLong, "click")) ++
      (3 to 6).map(u => (u.toLong, "view")))
      .zipWithIndex.map { case ((u, ty), i) => (i.toLong, t, u, ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val r = Analytics.hllOverlap(ev).collect()
    assert(r.length === 1)
    assert(r(0).getAs[String]("type_a") === "click")
    assert(r(0).getAs[String]("type_b") === "view")
    assert(r(0).getAs[Long]("exact_overlap") === 2L)
    assert(r(0).getAs[Boolean]("within_bound"))
    // real table: every pair reports and every estimate is in bound
    val real = Analytics.hllOverlap(Tables.events(spark, sfDir)).collect()
    assert(real.length === 10) // C(5 types, 2)
    assert(real.forall(_.getAs[Boolean]("within_bound")))
  }

  test("latency bands: nearest-rank percentiles are observed lags") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    // one priority, lags 1..10 → p50 = rank ceil(50·10/100)=5 → lag 5;
    // p90 → rank 9 → lag 9; p99 → rank ceil(9.9)=10 → lag 10
    val orders = (1 to 10).map(i => (i.toLong, d("1996-01-01"), "1-URGENT"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = (1 to 10).map(i => (i.toLong, 1L, d(f"1996-01-${1 + i}%02d")))
      .toDF("l_orderkey", "l_linenumber", "l_shipdate")
    val r = Analytics.latencyBands(orders, li).collect()
      .map(x => x.getAs[Long]("p") -> x.getAs[Long]("lag_days")).toMap
    assert(r === Map(50L -> 5L, 90L -> 9L, 99L -> 10L))
  }

  test("conversion trend deduplicates users before the daily rate") {
    import spark.implicits._
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ev = Seq(
      (1L, t1, 1L, "view"), (2L, t1, 1L, "view"),    // same viewer twice
      (3L, t1, 2L, "view"), (4L, t1, 3L, "view"),
      (5L, t1, 1L, "purchase"),
      (6L, t1, 9L, "click"))                          // other types ignored
      .toDF("event_id", "ts", "user_id", "event_type")
    val r = Analytics.conversionTrend(ev).head()
    assert(r.getAs[Long]("n_viewers") === 3L)
    assert(r.getAs[Long]("n_purchasers") === 1L)
    assert(r.getAs[Long]("conv_bp") === 3333L)
  }

  test("dq trend counts per-day violations with a bp rate") {
    import spark.implicits._
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-02 10:00:00")
    val ev = Seq(
      (1L, t1, Some(1L), "click", 5.0),
      (2L, t1, Some(2L), "bogus", 5.0),   // enum violation
      (3L, t2, Some(3L), "view", -1.0),   // negative value
      (4L, t2, None: Option[Long], "view", 1.0)) // missing user
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = DataQuality.trend(ev).collect()
    val byDay = r.map(x => x.getAs[String]("day") ->
      ((x.getAs[Long]("v_type"), x.getAs[Long]("v_value"),
        x.getAs[Long]("v_user"), x.getAs[Long]("violation_bp")))).toMap
    assert(byDay("2024-01-01") === ((1L, 0L, 0L, 5000L)))
    assert(byDay("2024-01-02") === ((0L, 1L, 1L, 10000L)))
  }

  test("weighted sample keeps singletons always, clustered docs by bucket") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, body, "en", "s"), (2L, body, "en", "s"), // near-dup cluster of 2
      (3L, "a unique document with entirely different content here", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val kept = Dedup.weightedSample(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("bucket")).toMap
    assert(kept.contains(3L), "singleton must always survive")
    // cluster {1,2}: weight 0.5 → kept iff md5 bucket < 50
    val buckets = Seq(1L, 2L).toDF("doc_id")
      .select(col("doc_id"), Sampling.hashBucket(col("doc_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    Seq(1L, 2L).foreach { id =>
      assert(kept.contains(id) === (buckets(id) < 50),
        s"doc $id: bucket ${buckets(id)} vs weight 0.5")
    }
  }

  test("lsh S-curve is monotone with exact endpoints") {
    val r = Dedup.lshSCurve(spark).collect()
    assert(r.length === 20)
    val ps = r.map(_.getAs[Double]("p_candidate"))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b }, "monotone")
    assert(ps.last === 1.0)
    assert(r.last.getAs[Double]("p_band") === 1.0)
    assert(ps.head === 0.0) // s=5%: s^8 rounds to zero at 6dp
  }

  test("dedup PR curve: exact duplicates score 10000/10000 at every threshold") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, body, "en", "s"), (2L, body, "en", "s"),  // jaccard 1.0 pair
      (3L, "completely different text about unrelated matters here", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val r = Dedup.dedupPrCurve(docs).collect()
    assert(r.length === 11)
    r.foreach { row =>
      assert(row.getAs[Long]("n_kept") === 1L)
      assert(row.getAs[Long]("n_tp") === 1L)
      assert(row.getAs[Long]("precision_bp") === 10000L)
      assert(row.getAs[Long]("recall_bp") === 10000L)
    }
    // monotonicity on the real table: raising τ never keeps more pairs
    val real = Dedup.dedupPrCurve(Tables.documents(spark, sfDir)).collect()
      .map(_.getAs[Long]("n_kept"))
    assert(real.zip(real.tail).forall { case (a, b) => a >= b })
  }

  test("status mix trend: one aggregate carries all three status shares") {
    import spark.implicits._
    val d = java.sql.Date.valueOf("1996-03-05")
    val orders = Seq((1L, "F", d), (2L, "F", d), (3L, "O", d))
      .toDF("o_orderkey", "o_orderstatus", "o_orderdate")
    val r = Analytics.statusMixTrend(orders).head()
    assert(r.getAs[String]("month") === "1996-03")
    assert(r.getAs[Long]("f_bp") === 6667L)
    assert(r.getAs[Long]("o_bp") === 3333L)
    assert(r.getAs[Long]("p_bp") === 0L)
  }

  test("novelty curve: first doc owns its grams, a copy scores zero") {
    import spark.implicits._
    val eightWords = "one two three four five six seven eight"
    val docs = Seq(
      (1L, eightWords, "en"),
      (2L, eightWords, "en"),                       // exact re-crawl: 0 bp
      (3L, s"$eightWords nine", "en"),              // 2 grams, 1 new
      (4L, "too short", "en"))                      // < 8 words: absent
      .toDF("doc_id", "text", "lang")
    val r = Corpus.noveltyCurve(docs).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_grams"), x.getAs[Long]("n_new"),
          x.getAs[Long]("novelty_bp")))).toMap
    assert(r(1L) === ((1L, 1L, 10000L)))
    assert(r(2L) === ((1L, 0L, 0L)))
    assert(r(3L) === ((2L, 1L, 5000L)))
    assert(!r.contains(4L))
  }

  test("benford reports all nine digits with half-up bp shares") {
    import spark.implicits._
    // 2 prices starting with 1, 1 with 9, 1 with 5; zero price dropped
    val orders = Seq(100.00, 19.99, 9.00, 555.5, 0.0).map(Tuple1(_))
      .toDF("o_totalprice")
    val r = Analytics.benfordCheck(orders).collect()
    assert(r.length === 9)
    val byDigit = r.map(x => x.getAs[Int]("digit") ->
      (x.getAs[Long]("n"), x.getAs[Long]("share_bp"))).toMap
    assert(byDigit(1) === ((2L, 5000L)))
    assert(byDigit(5) === ((1L, 2500L)))
    assert(byDigit(9) === ((1L, 2500L)))
    assert(byDigit(2) === ((0L, 0L))) // absent digit still reports
    // expected constants sum to ~10⁴ (9999 after rounding)
    assert(r.map(_.getAs[Long]("expected_bp")).sum === 10000L)
  }

  test("block repartition is conditional: narrow scans get the exchange, already-wide inputs skip it") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sfDir)
    val cents = Similarity.headCodebook(vecs, 16)
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def pairExchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning\\(list_id".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    // a ONE-FILE corpus (the mid-scale broadcast plan-flip case) must
    // get the block-key repartition: without it the whole within-block
    // pair volume runs in a single task
    val oneFile = java.nio.file.Files.createTempDirectory("g_blockpart").toString
    vecs.coalesce(1).write.mode("overwrite").parquet(oneFile)
    val narrow = spark.read.parquet(oneFile)
    assert(narrow.queryExecution.toRdd.getNumPartitions < width)
    assert(pairExchanges(Similarity.semDedupWith(narrow, cents)) >= 1,
      "one-file corpus lost the block-key repartition")
    // an input already at shuffle width (the at-scale case: thousands
    // of splits) must NOT pay a corpus-wide exchange the persisted
    // twins never pay
    val wide = vecs.repartition(width)
    assert(pairExchanges(Similarity.semDedupWith(wide, cents)) === 0,
      "already-wide corpus paid the block-key exchange")
    // values identical either way (the exchange is physical only)
    assert(Similarity.semDedupWith(narrow, cents).collect().map(_.toSeq).toSeq
      === Similarity.semDedupWith(wide, cents).orderBy("vec_id")
        .collect().map(_.toSeq).toSeq)
  }

  test("semdedup: earlier-id prune rule holds cluster-locally; tau is monotone") {
    val vecs = Tables.embeddings(spark, sfDir)
    val cents = Similarity.headCodebook(vecs, 16)
    val out = Similarity.semDedupWith(vecs, cents, tau = 0.35).collect()
    assert(out.length === vecs.count())
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    val pruned = out.filter(!_.getAs[Boolean]("kept"))
    assert(pruned.nonEmpty, "gate corpus must exercise real pruning")
    pruned.foreach { r =>
      val nearId = r.getAs[Long]("near_id")
      // the qualifying neighbor is EARLIER and in the SAME cluster
      assert(nearId >= 0 && nearId < r.getAs[Long]("vec_id"))
      assert(byId(nearId).getAs[Int]("list_id") === r.getAs[Int]("list_id"))
      assert(r.getAs[Double]("max_cos") >= 0.35)
    }
    out.filter(_.getAs[Boolean]("kept")).foreach { r =>
      assert(r.getAs[Long]("near_id") === -1L)
      assert(r.getAs[Double]("max_cos") === 0.0)
    }
    // the earliest vector of every cluster survives by construction
    out.groupBy(_.getAs[Int]("list_id")).values.foreach { cluster =>
      assert(cluster.minBy(_.getAs[Long]("vec_id")).getAs[Boolean]("kept"))
    }
    // raising tau can only prune FEWER
    val strict = Similarity.semDedupWith(vecs, cents, tau = 0.5)
      .filter(!col("kept")).count()
    assert(strict <= pruned.length)
    // stats view is the exact aggregate of the row view
    val stats = Similarity.semDedupStats(vecs, cents, tau = 0.35).collect()
    assert(stats.map(_.getAs[Long]("n_vectors")).sum === out.length)
    assert(stats.map(_.getAs[Long]("n_pruned")).sum === pruned.length)
    stats.foreach { s =>
      val (n, p) = (s.getAs[Long]("n_vectors"), s.getAs[Long]("n_pruned"))
      assert(s.getAs[Long]("prune_bp") === (2 * p * 10000 + n) / (2 * n))
    }
  }

  test("semdedup trained codebook: corpus-sized k, full cover, one row per vector") {
    val vecs = Tables.embeddings(spark, sfDir)
    val out = Similarity.semDedup(vecs, tau = 0.35)
    assert(out.count() === vecs.count())
    assert(out.select("vec_id").distinct().count() === vecs.count())
  }

  test("retrieval eval: MRR/NDCG identities on a constructed ranking") {
    import spark.implicits._
    // query 0 (label 1); ranking by cosine is v1 (rel) > v2 (non-rel)
    // > v3 (rel), so DCG hits ranks 1 and 3 while IDCG packs the two
    // relevant docs into ranks 1 and 2
    val emb = Seq(
      (0L, Array(1f, 0f), 1),
      (1L, Array(1f, 0.01f), 1),
      (2L, Array(0.9f, 0.1f), 2),
      (3L, Array(0.5f, 0.5f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.retrievalEval(emb).collect()
    assert(r.length === 1)
    val row = r(0)
    assert(row.getAs[Long]("query_id") === 0L)
    assert(row.getAs[Long]("n_rel_corpus") === 2L)
    assert(row.getAs[Long]("n_hits") === 2L)
    assert(row.getAs[Long]("mrr_bp") === 10000L) // first hit at rank 1
    val w = Similarity.dcgW6
    val dcg = w(0) + w(2)
    val idcg = w(0) + w(1)
    assert(row.getAs[Long]("ndcg_bp") === (2 * dcg * 10000 + idcg) / (2 * idcg))
    // corpus run: one row per query, everything bounded in [0, 10000]
    val vecs = Tables.embeddings(spark, sfDir)
    val full = Similarity.retrievalEval(vecs).collect()
    assert(full.length === vecs
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 500).count())
    full.foreach { x =>
      assert(x.getAs[Long]("mrr_bp") >= 0 && x.getAs[Long]("mrr_bp") <= 10000)
      assert(x.getAs[Long]("ndcg_bp") >= 0 && x.getAs[Long]("ndcg_bp") <= 10000)
      assert(x.getAs[Long]("n_hits") <= 10L)
    }
  }

  test("semdedup lifecycle: indexed twin matches in-query; incremental admits exactly the novel batch") {
    val vecs = Tables.embeddings(spark, sfDir)
    val tmp = sys.props("java.io.tmpdir")
    // indexed twin: persisted assignment under the same codebook must
    // reproduce the in-query form row for row
    val idxPath = s"$tmp/g_spec_sem_ivf"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(idxPath))
    val cents = Similarity.headCodebookSized(vecs)
    Similarity.writeIvfIndexWith(vecs, idxPath, cents)
    val direct = Similarity.semDedupWith(vecs, cents).collect().map(_.toSeq)
    val indexed = Similarity.semDedupFromIndex(spark, idxPath)
      .collect().map(_.toSeq)
    assert(indexed === direct)
    // the kNN twin over the same persisted assignment is also
    // row-identical to its in-query form
    assert(Similarity.knnGraphFromIndex(spark, idxPath).collect().map(_.toSeq)
      === Similarity.knnGraphWith(vecs, cents).collect().map(_.toSeq))
    // incremental: batch (mod-13) against the residue-trained index —
    // refused rows carry a same-list corpus neighbor within tau,
    // admitted rows have none (checked against a brute recompute)
    val incrPath = s"$tmp/g_spec_sem_incr"
    rm(new java.io.File(incrPath))
    val residue = vecs.filter(col("vec_id") % 13 =!= 0)
    val rCents = Similarity.headCodebookSized(residue)
    Similarity.writeIvfIndexWith(residue, incrPath, rCents)
    val batch = vecs.filter(col("vec_id") % 13 === 0)
    val out = Similarity.semDedupAgainstIndex(spark, incrPath, batch).collect()
    assert(out.length === batch.count())
    val corpusAssign = Similarity.semDedupWith(residue, rCents)
      .select("vec_id", "list_id").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("list_id")).toMap
    out.filter(!_.getAs[Boolean]("admitted")).foreach { r =>
      val nearId = r.getAs[Long]("near_id")
      assert(nearId % 13 !== 0L) // the blocker is a CORPUS row
      assert(corpusAssign(nearId) === r.getAs[Int]("list_id"))
      assert(r.getAs[Double]("max_cos") >= 0.35)
    }
    out.filter(_.getAs[Boolean]("admitted")).foreach { r =>
      assert(r.getAs[Long]("near_id") === -1L)
    }
  }

  test("semantic clusters: components agree with the semdedup pair set; histogram conserves mass") {
    val vecs = Tables.embeddings(spark, sfDir)
    val cents = Similarity.headCodebookSized(vecs)
    val cl = Similarity.semanticClusters(vecs, cents).collect()
    assert(cl.length === vecs.count())
    val byId = cl.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    // a semdedup-pruned vector and its blocker are one component
    val sd = Similarity.semDedupWith(vecs, cents).collect()
    val pruned = sd.filter(!_.getAs[Boolean]("kept"))
    assert(pruned.nonEmpty)
    pruned.foreach { r =>
      assert(byId(r.getAs[Long]("near_id")) === byId(r.getAs[Long]("vec_id")))
    }
    // cluster id = component min; is_canonical marks exactly that row
    cl.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
      assert(rows.map(_.getAs[Long]("vec_id")).min === cid)
      rows.foreach(r => assert(
        r.getAs[Boolean]("is_canonical") === (r.getAs[Long]("vec_id") == cid)))
    }
    // histogram conserves mass and sees real multi-vector clusters
    val st = Similarity.semanticClusterStats(vecs, cents).collect()
    assert(st.map(_.getAs[Long]("n_docs")).sum === vecs.count())
    assert(st.exists(_.getAs[Long]("cluster_size") > 1L))
  }

  test("semantic components index: consumers match direct forms without re-clustering") {
    val vecs = Tables.embeddings(spark, sfDir)
    val cents = Similarity.headCodebookSized(vecs)
    val t = "g_spec_sem_cluster_idx"
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
    rm(new java.io.File(wh, t))
    Similarity.writeSemanticClusterIndex(vecs, cents, t)
    // both consumers row-identical to their in-query forms
    assert(Similarity.semanticWeightsFromIndex(spark, t).collect().map(_.toSeq)
      === Similarity.semanticWeights(vecs, cents).collect().map(_.toSeq))
    assert(Dedup.clusterStatsFromIndex(spark, t).collect().map(_.toSeq)
      === Similarity.semanticClusterStats(vecs, cents).collect().map(_.toSeq))
    // and the indexed weights aggregate rides the bucket layout — no
    // cluster_id hash exchange anywhere in the plan
    val plan = Similarity.semanticWeightsFromIndex(spark, t)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(cluster_id".r.findFirstIn(plan).isEmpty,
      s"indexed semantic weights should not re-shuffle on cluster_id:\n$plan")
  }

  test("knn graph: per-vector top-k within the cluster block, rank-ordered") {
    val vecs = Tables.embeddings(spark, sfDir)
    val cents = Similarity.headCodebook(vecs, 16)
    val g = Similarity.knnGraphWith(vecs, cents, k = 5).collect()
    val assign = vecs.select(col("vec_id"),
      graft.plans.HashExprs.nearestCentroid(col("embedding"), cents).as("l"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("l")).toMap
    val byVec = g.groupBy(_.getAs[Long]("vec_id"))
    byVec.foreach { case (v, rows) =>
      assert(rows.length <= 5)
      val sorted = rows.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq === (1 to rows.length))
      // cosine non-increasing in rank; neighbors block-local, never self
      sorted.sliding(2).foreach {
        case Array(x, y) =>
          assert(x.getAs[Double]("cos_sim") >= y.getAs[Double]("cos_sim"))
        case _ =>
      }
      rows.foreach { r =>
        val nbr = r.getAs[Long]("nbr_id")
        assert(nbr !== v)
        assert(assign(nbr) === assign(v))
      }
      // a vector in a block of size >= 6 has exactly 5 neighbors
      val blockSize = assign.values.count(_ == assign(v))
      assert(rows.length === math.min(5, blockSize - 1))
    }
  }
}
