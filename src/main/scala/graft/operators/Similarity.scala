package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.HashExprs

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — a single scan with the query
  * vector broadcast, per-partition TakeOrdered + driver merge of k
  * rows; zero shuffles of the embedding table. The per-row cosine is a
  * compiled expression ([[graft.plans.HashExprs.cosineSim]]), not an
  * interpreted higher-order function.
  *
  * Scale path: sign-random-projection LSH buckets (shared with
  * [[Dedup.embeddingNearDup]]) — probe only the query's bucket(s),
  * turning a full scan into a partition-pruned fraction.
  */
object Similarity {

  /** Cosine similarity between two array columns. */
  def cosine(a: Column, b: Column): Column = HashExprs.cosineSim(a, b)

  /** Brute-force cosine top-k against the embedding of `queryId`.
    * The 1-row query side is broadcast; the scan side never shuffles.
    */
  def bruteForceTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    embeddings.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q_embedding")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** FILTERED vector search — exact top-k restricted to a metadata
    * predicate (here: same `label` as the query): the
    * vector-database pattern every retrieval product exposes
    * ("nearest within this tenant/category/date range"). PRE-filter,
    * not post-filter: the predicate restricts candidates BEFORE the
    * top-k, so a selective filter makes the query cheaper and always
    * returns k matches — a post-filtered global top-k would both
    * over-read and under-return (k results thinned to fewer). Here
    * the label comes from the query row at runtime, so it rides the
    * broadcast join condition; a caller with a LITERAL predicate
    * (known tenant) should filter the corpus frame directly, which
    * pushes to the parquet scan. Same scan + broadcast-query +
    * TakeOrdered shape as [[bruteForceTopK]] (spec-asserted
    * shuffle-free); for the persisted IVF index, compose the
    * predicate with the list-pruned read the same way.
    */
  def filteredTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"), col("label").as("q_label"))
    embeddings.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .filter(col("label") === col("q_label"))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_embedding")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** BATCH exact top-k: the k nearest corpus vectors for EVERY vector
    * in a query batch (here the deterministic `vec_id % queryMod = 0`
    * slice stands in for an arriving batch) — the corpus-linking form
    * of retrieval: entity resolution, re-ranking candidates, nearest-
    * neighbor labeling all consume this shape, not one query at a
    * time.
    *
    * Scale shape: the query batch is BOUNDED (a batch, not the
    * corpus) and broadcasts; the corpus side is one scan that never
    * shuffles before scoring, and the per-query top-k is a window the
    * optimizer executes as WindowGroupLimit (rank-pushdown keeps k
    * rows per query per partition — no full sort of the scored
    * cross). The scored row count is |corpus| × |batch|: that is the
    * honest price of EXACT batch retrieval; the approximate path for
    * unbounded batches is the LSH/IVF bucket family.
    *
    * The stand-in batch is CAPPED (`vec_id < queryCap` on top of the
    * mod slice) so the broadcast side is constant-size at any scale
    * factor — a mod slice alone is a fixed FRACTION of the corpus,
    * which would quietly turn |corpus|×|batch| into |corpus|²/mod as
    * SF grows. A real run supplies a bounded batch table in place of
    * the slice.
    */
  def batchTopK(embeddings: DataFrame, queryMod: Long = 50, k: Int = 5,
                queryCap: Long = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = embeddings
      .filter(col("vec_id") % queryMod === 0 && col("vec_id") < queryCap)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))
    embeddings.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 4).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")
  }

  /** IVF-bucketed approximate top-k: a small k-means-trained codebook
    * ([[trainCodebook]]) partitions the corpus into inverted lists; a
    * probe scores only the `nProbe` lists nearest the query.
    *
    * At scale the assignment is computed once at ingest and the table
    * is PARTITIONED BY the list id, so a probe is a partition-pruned
    * read of nProbe/nCentroids of the data. The codebook is driver-side
    * metadata (kilobytes) like a broadcast-join build side.
    */
  /** Row field → double array regardless of float/double element type. */
  private def vecOf(row: org.apache.spark.sql.Row, field: String): Array[Double] =
    row.getAs[scala.collection.Seq[Any]](field)
      .map(_.asInstanceOf[Number].doubleValue()).toArray

  /** Deterministic seed codebook: the nCentroids corpus vectors with
    * the smallest xxhash64(vec_id) — a uniform sample independent of
    * id order (k-means init).
    */
  private def seedCodebook(embeddings: DataFrame, nCentroids: Int): Array[Array[Double]] =
    embeddings
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(nCentroids)
      .collect()
      .map(vecOf(_, "embedding"))

  /** Lloyd's k-means over the embedding column, as iterative DataFrame
    * aggregation — the trained-codebook step that turns IVF from
    * demo-ANN into usable-ANN (a hash-sampled codebook mis-sizes the
    * inverted lists on skewed corpora).
    *
    * Each round is one distributed pass: assign (compiled
    * nearest-centroid expression) → per-(list, dim) partial sums
    * map-side → one small shuffle of nCentroids×dim rows → collect
    * kilobytes to the driver. No driver loop touches row data, so the
    * same plan runs at any corpus size; at 100 TB you'd train on a
    * hash-based sample (`xxhash64(vec_id) % N = 0`) — the codebook
    * needs distribution coverage, not every row.
    *
    * Element sums accumulate in DECIMAL(28,12), not double: decimal
    * addition is exact and therefore independent of partition/merge
    * order, so the trained codebook is bit-reproducible run to run —
    * which keeps every downstream probe (and the correctness gate)
    * deterministic. The 12dp input rounding is harmless: centroids
    * only need to be near their cluster's mean.
    */
  def trainCodebook(embeddings: DataFrame, nCentroids: Int = 16,
                    iters: Int = 3, sampleMod: Int = 1): Array[Array[Double]] = {
    // hash-based training sample (sampleMod > 1): the codebook needs
    // distribution coverage, not every row — this is the documented
    // 100 TB regime, applied at every scale so training cost stays a
    // small fraction of one corpus pass
    val train = if (sampleMod > 1)
      embeddings.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
    else embeddings
    var cents = seedCodebook(embeddings, nCentroids)
    for (_ <- 1 to iters) {
      // ONE-PASS fused update ([[graft.plans.CentroidSumsAgg]]): the
      // per-(list, dim) sums and counts in a single narrow aggregate —
      // bit-equal to the posexplode + (k·d)-group decimal group-by it
      // replaced (spec-pinned), but each round now scans the sample
      // once with k·d decimals per partition leaving the executors
      // instead of |rows|·d exploded rows through an exchange
      val sums = train
        .select(HashExprs.nearestCentroid(col("embedding"), cents).as("list_id"),
          col("embedding"))
        .select(graft.plans.SketchAggs.centroidSums(
          col("list_id"), col("embedding")).as("cs"))
        .head().getSeq[org.apache.spark.sql.Row](0)
      val next = cents.map(_.clone())
      sums.foreach { r =>
        val list = r.getAs[Int]("list_id")
        val pos = r.getAs[Int]("pos")
        val s = r.getAs[java.math.BigDecimal]("s")
        val n = r.getAs[Long]("n")
        // exact decimal mean → double once, at the end: deterministic
        next(list)(pos) = s.divide(java.math.BigDecimal.valueOf(n),
          java.math.MathContext.DECIMAL64).doubleValue()
      }
      // lists that captured no vectors keep their previous centroid
      cents = next
    }
    cents
  }

  /** The probe step shared by [[ivfTopK]] (in-query assignment) and
    * [[ivfTopKIndexed]] (persisted assignment): pick the `nProbe`
    * lists nearest the query (driver-side over the kilobyte codebook),
    * score only their members. When `assigned` is the persisted
    * list-partitioned table, the isin filter IS a partition filter —
    * the probe reads nProbe/nCentroids of the data.
    */
  private def probeTopK(assigned: DataFrame, cents: Array[Array[Double]],
                        queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val qRows = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding")).take(1)
    if (qRows.isEmpty)
      // unknown queryId → empty result, matching bruteForceTopK
      return assigned.filter(lit(false))
        .select(col("vec_id"), lit(0.0).as("cos_sim"))
    val qVec = vecOf(qRows(0), "embedding")
    val probeLists = cents.zipWithIndex
      .map { case (c, i) =>
        (i, c.zip(qVec).map { case (x, y) => (x - y) * (x - y) }.sum)
      }
      .sortBy(_._2).take(nProbe).map(_._1)
    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    assigned
      .filter(col("list_id").isin(probeLists.toSeq: _*) && col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q_embedding")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  def ivfTopK(embeddings: DataFrame, queryId: Long, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4, trainIters: Int = 3): DataFrame = {
    val cents: Array[Array[Double]] =
      if (trainIters <= 0) seedCodebook(embeddings, nCentroids)
      else trainCodebook(embeddings, nCentroids, trainIters)
    val assigned = embeddings.select(col("vec_id"), col("embedding"),
      HashExprs.nearestCentroid(col("embedding"), cents).as("list_id"))
    probeTopK(assigned, cents, queryId, k, nProbe)
  }

  /** Persist the IVF index — the "train at ingest" half of the ANN
    * story (every in-query variant documents that a real deployment
    * does this): the trained codebook as a tiny parquet table and the
    * per-vector list assignment PARTITIONED BY list_id, so a probe
    * over the persisted index is a partition-pruned read of
    * nProbe/nCentroids of the corpus (spec-asserted PartitionFilters).
    * Training cost is paid once here, not per query.
    */
  def writeIvfIndex(embeddings: DataFrame, path: String,
                    nCentroids: Int = 16, trainIters: Int = 3): Unit =
    writeIvfIndexWith(embeddings, path,
      trainCodebook(embeddings, nCentroids, trainIters))

  /** [[writeIvfIndex]] with a caller-supplied codebook — the injection
    * point for (a) [[retrainIvfIndex]], which trains the codebook
    * itself but over live rows, and (b) gates/tests that need a
    * SQL-reproducible codebook (an oracle can't replay k-means, but it
    * can replay "the 16 smallest corpus vec_ids' embeddings").
    */
  def writeIvfIndexWith(embeddings: DataFrame, path: String,
                        cents: Array[Array[Double]]): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // a full rebuild supersedes EVERY side artifact of the previous
    // generation — and for a FLAT rebuild over a dir that previously
    // held a two-level index, dropping the old coarse book is
    // correctness-bearing: a surviving codebook_coarse would route
    // every future batch pass (assignUnderIndex) through a STALE
    // factored book against the new flat codebook
    resetIvfIndexSides(spark, path, dropCoarse = true)
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("list_id", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    embeddings.select(col("vec_id"), col("embedding"),
      HashExprs.nearestCentroid(col("embedding"), cents).as("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/assigned")
  }

  /** Clear a path-based index's side artifacts ahead of a full rebuild:
    * previous-generation tombstones (their ids are from the replaced
    * corpus — anti-joining them against fresh rows would silently drop
    * data), applied-batch marks, staged-append leftovers, and a crashed
    * holder's writer lease. `dropCoarse` additionally removes the
    * two-level coarse book (flat rebuilds only — the two-level writer
    * overwrites it).
    */
  private def resetIvfIndexSides(spark: org.apache.spark.sql.SparkSession,
                                 path: String, dropCoarse: Boolean): Unit = {
    val fs = graft.sources.IndexMaintenance.fsFor(spark, path)
    val sides = Seq("tombstones", "applied_batches", "_staging",
      "_writer_lease") ++ (if (dropCoarse) Seq("codebook_coarse") else Nil)
    sides.foreach { s =>
      fs.delete(new org.apache.hadoop.fs.Path(s"${path.stripSuffix("/")}/$s"), true)
    }
  }

  /** [[ivfTopK]] over a persisted index: no training, no assignment
    * pass — the codebook is kilobytes read to the driver, and the
    * probe's list filter prunes to nProbe partitions of the assigned
    * table. Identical results to [[ivfTopK]] with the same training
    * config (the decimal-accumulated codebook is bit-reproducible —
    * spec-asserted equal).
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queryId: Long, k: Int, nProbe: Int = 4): DataFrame = {
    val cents = graft.sources.Tables.parquet(spark, s"$path/codebook")
      .orderBy("list_id").collect().map(vecOf(_, "cent"))
    probeTopK(liveAssigned(spark, path), cents, queryId, k, nProbe)
  }

  /** The persisted assignment honoring tombstone deletes
    * ([[deleteFromIvfIndex]]) — list_id partition pruning pushes past
    * the broadcast anti-join, so probes stay partition-pruned reads.
    */
  private def liveAssigned(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame =
    graft.sources.IndexMaintenance.liveRowsAt(
      spark, s"$path/assigned", path, "vec_id")

  /** Index MAINTENANCE: assign an arriving vector batch to the
    * EXISTING codebook and append to the list partitions — the IVF
    * check→extend loop ([[graft.operators.Dedup.appendToMinhashIndex]]
    * contract): the codebook is kilobytes read to the driver, the
    * batch is one compiled assignment pass, and the append lands in
    * the same list_id partition layout so probes stay partition-pruned.
    * The codebook AGES (it never saw the batch): the exact-guarantee
    * probe ([[ivfTopKExactIndexed]]) stays exact regardless — its
    * radii are recomputed over live rows, so appended vectors widen
    * the bounds honestly — while fixed-nProbe recall drifts, which
    * [[ivfDriftReport]] measures to make the retrain decision
    * data-driven.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, newVecs: DataFrame): Unit =
    graft.sources.IndexMaintenance.withWriterLeaseAt(spark, path) {
      // roll a crashed retrain's COMMITTED generation forward before
      // assigning: the batch must route under one consistent
      // (codebook, assignment) generation (one marker stat per batch)
      val fs = graft.sources.IndexMaintenance.fsFor(spark, path)
      if (fs.exists(retrainMarker(path))) foldRetrain(fs, path)
      assignUnderIndex(spark, path, newVecs)
        .write.mode("append").partitionBy("list_id").parquet(s"$path/assigned")
    }

  /** Whether the index at `path` carries the factored coarse book —
    * i.e. was written by [[writeTwoLevelIvfIndex]]. Every
    * batch-assignment consumer routes on this, so a two-level index
    * never silently pays the flat batch·k·d pass.
    */
  private def isTwoLevelIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String): Boolean =
    // the PATH'S OWN filesystem, not the default one: for an index on a
    // non-default FS (s3a/hdfs vs file:) the default-FS check would
    // silently return false and route every batch pass through the flat
    // codebook — paying batch·k·d AND routing by global nearest, the
    // exact cell-parity break assignUnderIndex exists to prevent
    graft.sources.IndexMaintenance.fsFor(spark, path)
      .exists(new org.apache.hadoop.fs.Path(s"$path/codebook_coarse"))

  /** Rebuild the ragged books bundle from a two-level index's stored
    * coarse book + flat codebook (hole padding excluded exactly as at
    * build, via the recorded per-cell lengths).
    */
  private def readTwoLevelBooks(spark: org.apache.spark.sql.SparkSession,
                                path: String): TwoLevelBooks = {
    val cRows = graft.sources.Tables.parquet(spark, s"$path/codebook_coarse")
      .orderBy("coarse_id").collect()
    val coarse = cRows.map(vecOf(_, "cent"))
    val nFine = cRows.map(_.getAs[Int]("n_fine"))
    val flat = graft.sources.Tables.parquet(spark, s"$path/codebook")
      .orderBy("list_id").collect().map(vecOf(_, "cent"))
    val g = flat.length / coarse.length
    val fine: Array[Array[Array[Double]]] = Array.tabulate(coarse.length) { c =>
      flat.slice(c * g, c * g + nFine(c))
    }
    TwoLevelBooks(coarse, fine, g)
  }

  /** Assign a batch under an index's STORED books — the single routing
    * point every index-consuming batch pass shares: FACTORED
    * (coarse → the cell's ragged fine book, batch·2√k·d) when the index
    * is two-level (`codebook_coarse` present), flat (batch·k·d) only
    * when the index genuinely is flat. Routing here rather than per
    * caller is what keeps the semantic admission/merge family and the
    * append stages on the factored curve the moment their index is —
    * and keeps build↔append assignment PARITY (a flat pass over a
    * two-level index would route by global nearest, a different cell
    * than the factored build picked).
    */
  def assignUnderIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, newVecs: DataFrame): DataFrame =
    if (isTwoLevelIndex(spark, path))
      assignTwoLevel(newVecs, readTwoLevelBooks(spark, path))
    else {
      val cents = graft.sources.Tables.parquet(spark, s"$path/codebook")
        .orderBy("list_id").collect().map(vecOf(_, "cent"))
      assignLists(newVecs, cents)
    }

  /** Codebook-DRIFT report for an aged IVF index: recall@k of the
    * fixed-`nProbe` probe vs exact cosine, one row per query — the
    * retrain signal read after [[appendToIvfIndex]] has grown the
    * lists with vectors the codebook never saw. Falling recall means
    * the aged centroids no longer route queries to the lists that
    * hold their true neighbors → retrain; stable recall means the
    * batch landed inside the trained distribution → keep appending.
    *
    * Fully distributed, no per-query driver loop: probe lists per
    * query come from a window over the bounded query×centroid grid
    * (≤ cap·nCentroids rows, centroids broadcast), ranked by the SAME
    * left-to-right L2 fold [[ivfTopKIndexed]]'s driver-side selection
    * computes (ties by list_id — Scala's stable sort, made explicit);
    * the probe side then reads only probed lists. The exact side is
    * the [[recallReport]] brute-force machinery. recall_bp is the
    * HALF_UP integer identity, like every ratio in the library.
    */
  def ivfDriftReport(spark: org.apache.spark.sql.SparkSession, path: String,
                     queryMod: Long = 50, k: Int = 10, nProbe: Int = 4,
                     queryCap: Long = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = liveAssigned(spark, path)
    val centDf = graft.sources.Tables.parquet(spark, s"$path/codebook")
    val queries = assigned
      .filter(col("vec_id") % queryMod === 0 && col("vec_id") < queryCap)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val wq = Window.partitionBy("query_id").orderBy(col("d2"), col("list_id"))
    val probed = queries.crossJoin(broadcast(centDf))
      .withColumn("d2", expr(
        "aggregate(zip_with(qv, cent, (x, y) -> " +
          "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), " +
          "0.0D, (a, v) -> a + v)"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select("query_id", "list_id")
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))
    def topk(scored: DataFrame) = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"))
    val approx = topk(assigned
      .join(broadcast(probed), "list_id")
      .join(broadcast(queries), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 4).as("cos_sim")))
    val exact = topk(assigned
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 4).as("cos_sim")))
    val hits = exact.join(approx, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    queries.select("query_id")
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .select(col("query_id"), lit(k.toLong).as("k"), col("n_hits"),
        expr(s"(2 * n_hits * 10000 + $k) div (2 * $k)").as("recall_bp"))
      .orderBy("query_id")
  }

  /** RETRAIN the IVF index — the consumer of [[ivfDriftReport]]'s
    * signal, closing the build → append → drift → retrain loop: when
    * the aged codebook's recall has decayed (appended batches landed
    * outside the trained distribution), rebuild the codebook over the
    * index's LIVE rows (takedowns excluded — a deleted vector must not
    * shape the new centroids), reassign every live vector, and swap
    * the fresh codebook + list-partitioned assignment in place.
    *
    * Tombstones FOLD here for free: the retrain reads live rows, so
    * the rebuilt lists contain no deleted ids and the side dir drops —
    * a retrain subsumes [[compactIvfIndex]]. The path keeps serving
    * the same probe layout (list_id-partitioned, partition-pruned
    * reads of nProbe/nCentroids), so no probe code changes across a
    * retrain. Cost is one training pass (hash-sampled at scale, the
    * [[trainCodebook]] contract) + one assignment pass over live
    * rows — paid when the drift report says so, amortized over every
    * probe until the next retrain. Single-writer (lease-enforced), and
    * CRASH-SAFE as of r16: every fresh component writes to a
    * `_retrain_tmp` sibling, a `_retrain_commit` marker lands only
    * once ALL of them are complete, and the per-component folds move
    * the served dir ASIDE before renaming the fresh one in — so no
    * crash point deletes the last copy of any component, and
    * [[recoverRetrainSwap]] (run on entry by every retrain/append)
    * rolls a committed generation forward, which also closes the
    * old permanent-generation-mismatch window (codebook from one
    * generation, assignment from another, frozen by a crash between
    * the two renames). A live READER still races old-vs-new per
    * component during the fold — on a cluster this whole swap is a
    * Delta/Iceberg REPLACE commit.
    */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, nCentroids: Int = 16,
                      trainIters: Int = 3): Unit =
                      graft.sources.IndexMaintenance
                        .withWriterLeaseAt(spark, path) {
    import spark.implicits._
    val fs = graft.sources.IndexMaintenance.fsFor(spark, path)
    recoverRetrainSwap(spark, path)
    val live = liveAssigned(spark, path).select("vec_id", "embedding")
    val cents = trainCodebook(live, nCentroids, trainIters)
    // write BOTH halves fresh before touching the served ones: every
    // read of `live` below still resolves against the old files
    live.select(col("vec_id"), col("embedding"),
      HashExprs.nearestCentroid(col("embedding"), cents).as("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$path/assigned_retrain_tmp")
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("list_id", "cent")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/codebook_retrain_tmp")
    commitRetrain(fs, path, Seq("assigned", "codebook"))
    foldRetrain(fs, path)
  }

  /** The component set a retrain swaps — folded as a SUPERSET at
    * recovery (whichever tmps the committed generation staged).
    */
  private val retrainComponents = Seq("assigned", "codebook", "codebook_coarse")

  private[graft] def retrainMarker(path: String) =
    new org.apache.hadoop.fs.Path(s"${path.stripSuffix("/")}/_retrain_commit")

  /** Land the retrain's commit marker carrying the STAGED component
    * list — the transaction boundary: before it, a crash discards the
    * staged generation; after it, the fold WILL complete (here or at
    * the next maintenance op's recovery). The list is what lets a FLAT
    * retrain over a formerly two-level index drop the stale coarse
    * book (a generation that doesn't stage `codebook_coarse` excludes
    * it — leaving it live would route every later batch pass through a
    * stale factored book against the new flat codebook).
    */
  private[graft] def commitRetrain(fs: org.apache.hadoop.fs.FileSystem,
                            path: String, comps: Seq[String]): Unit = {
    val out = fs.create(retrainMarker(path), true)
    out.write(comps.mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  /** Fold a COMMITTED retrain generation in: per STAGED component,
    * move the served dir aside (`_retrain_old`), rename the fresh one
    * in, drop the old copy; a swap component the generation did NOT
    * stage (the coarse book under a flat retrain) is deleted — each
    * step an idempotent rename/delete keyed on existence, so a replay
    * from any crash point resumes exactly the remaining moves; then
    * the folded tombstones and the marker drop.
    */
  private[graft] def foldRetrain(fs: org.apache.hadoop.fs.FileSystem,
                          path: String): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val staged: Set[String] = {
      val in = fs.open(retrainMarker(path))
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
    retrainComponents.foreach { c =>
      val tmp = p(s"$path/${c}_retrain_tmp")
      val old = p(s"$path/${c}_retrain_old")
      val livePath = p(s"$path/$c")
      if (staged(c)) {
        if (fs.exists(tmp)) {
          if (fs.exists(livePath))
            require(fs.rename(livePath, old),
              s"retrain aside rename failed: $livePath")
          require(fs.rename(tmp, livePath),
            s"retrain fold rename failed: $tmp -> $livePath")
        }
        fs.delete(old, true) // consumed-tmp replay: only the old remains
      } else {
        // the committed generation excludes this component
        fs.delete(livePath, true)
        ()
      }
    }
    fs.delete(p(s"$path/tombstones"), true)
    fs.delete(retrainMarker(path), false)
    ()
  }

  /** Entry-time recovery for the retrain swap: a committed generation
    * rolls FORWARD (the marker lands only after every tmp is
    * complete); uncommitted tmps from a crash mid-write drop. No
    * leftovers → no-op. Public so an operator can heal an index
    * without waiting for the next maintenance op.
    */
  def recoverRetrainSwap(spark: org.apache.spark.sql.SparkSession,
                         path: String): Unit = {
    val fs = graft.sources.IndexMaintenance.fsFor(spark, path)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    if (fs.exists(retrainMarker(path))) foldRetrain(fs, path)
    else retrainComponents.foreach { c =>
      fs.delete(p(s"$path/${c}_retrain_tmp"), true)
      fs.delete(p(s"$path/${c}_retrain_old"), true)
    }
  }

  /** Grid side for the two-level codebook: nCoarse = nFine =
    * ⌈√k⌉ with k = max(16, ⌈n / targetCluster⌉) — the SAME corpus-sized
    * k as [[semDedup]]/[[headCodebookSized]], factored so assignment
    * costs n·2√k·d instead of flat n·k·d.
    */
  def twoLevelGrid(n: Long, targetCluster: Int = 256): Int =
    math.max(4, math.ceil(math.sqrt(
      math.max(16.0, n.toDouble / targetCluster))).toInt)

  /** The factored codebook bundle every two-level consumer passes
    * around: `coarse` cells, per-cell RAGGED fine books, and the grid
    * width `nFine` flattening list_id = cid·nFine + fid. `flat` is the
    * probe-metadata view (hole slots carry their cell's coarse
    * centroid — an empty list's radius is 0, so exact-probe bounds
    * stay valid and a scan of it reads nothing).
    */
  final case class TwoLevelBooks(coarse: Array[Array[Double]],
                                 fine: Array[Array[Array[Double]]],
                                 nFine: Int) {
    def flat: Array[Array[Double]] = Array.tabulate(coarse.length * nFine) { lid =>
      val (c, f) = (lid / nFine, lid % nFine)
      if (f < fine(c).length) fine(c)(f) else coarse(c)
    }
  }

  /** TRAINED two-level books at the corpus-sized grid — hierarchical
    * Lloyd's ([[trainTwoLevelCodebook]]) at g = [[twoLevelGrid]](n),
    * the production books behind [[writeTwoLevelIvfIndex]] and the
    * factored semantic family ([[semDedupTwoLevel]] et al.). The one
    * `count()` is ingest-grade work, like [[semDedup]]'s.
    */
  def trainTwoLevelBooks(embeddings: DataFrame, targetCluster: Int = 256,
                         iters: Int = 2): TwoLevelBooks = {
    val g = twoLevelGrid(embeddings.count(), targetCluster)
    val (coarse, fine, _) = trainTwoLevelCodebook(embeddings, g, g, iters)
    TwoLevelBooks(coarse, fine, g)
  }

  /** SQL-REPLAYABLE two-level books — the [[headCodebookSized]]
    * convention factored: coarse book = the first g corpus embeddings
    * by vec_id (g = [[twoLevelGrid]](n)), fine book per cell = the
    * cell's first g members by vec_id under the coarse assignment —
    * both pure functions of the table, so a DuckDB oracle re-derives
    * cell, fine pick, and the flattened list id. Only the BOOKS differ
    * from [[trainTwoLevelBooks]] (head-picked vs trained), which moves
    * list boundaries but not cost or output contracts — the gate
    * geometry stays the scale-right factored one.
    */
  def headTwoLevelBooks(embeddings: DataFrame,
                        targetCluster: Int = 256): TwoLevelBooks = {
    import org.apache.spark.sql.expressions.Window
    val g = twoLevelGrid(embeddings.count(), targetCluster)
    val coarse = headCodebook(embeddings, g)
    val withC = embeddings.select(col("vec_id"), col("embedding"),
      HashExprs.nearestCentroid(col("embedding"), coarse).as("cid"))
    val w = Window.partitionBy("cid").orderBy("vec_id")
    // single payload window, deliberately: ranking the narrow (cid,
    // vec_id) projection first and re-attaching embeddings via a
    // broadcast join was measured SLOWER here (the extra broadcast
    // stage + second scan cost ~0.2 s against a trivially small gate
    // shuffle — semdedup_twolevel 0.33→0.56 s). The production
    // training path ([[trainTwoLevelCodebook]]), whose seed window
    // really is corpus-sized at ingest, uses the narrow-rank form.
    val seedRows = withC.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= g)
      .select(col("cid"), (col("rn") - 1).as("fid"),
        col("embedding").cast("array<double>").as("cent"))
      .collect()
    val fine: Array[Array[Array[Double]]] = {
      val byCell = seedRows.groupBy(_.getAs[Int]("cid"))
      Array.tabulate(coarse.length) { c =>
        byCell.getOrElse(c, Array.empty)
          .sortBy(_.getAs[Int]("fid"))
          .map(_.getSeq[Double](2).toArray)
      }
    }
    TwoLevelBooks(coarse, fine, g)
  }

  /** The factored (coarse → cell's ragged fine book) assignment pass
    * under a books bundle — n·2√k·d, the [[twoLevelAssigned]] contract.
    */
  def assignTwoLevel(embeddings: DataFrame, books: TwoLevelBooks): DataFrame =
    twoLevelAssigned(embeddings, books.coarse, books.fine, books.nFine)

  /** Two-level (coarse ⋈ fine) IVF codebook — the documented escape
    * from the flat-assignment ceiling (SURVEY §5): with k ∝ n lists, a
    * flat nearest-centroid pass costs n·k·d flops (quadratic in n),
    * which caps the flat form at ~10⁷–10⁸ vectors. Factoring the
    * codebook as √k coarse cells × √k fine centroids per cell makes
    * assignment n·2√k·d (n^1.5 under k ∝ n — subquadratic, and the
    * per-row cost stays broadcast-friendly at any k): one coarse pass
    * picks the cell, one fine pass within ONLY that cell's book picks
    * the list, and list_id = coarse·nFine + fine lands in the SAME
    * flat layout every probe and maintenance op already speaks.
    *
    * Training is hierarchical k-means, fully distributed and
    * decimal-exact like [[trainCodebook]]: Lloyd's on the coarse book,
    * then JOINT Lloyd's on all fine books at once — each fine pass is
    * one scan (the compiled two-level argmin of [[twoLevelAssigned]],
    * so a row pays coarse + one cell's book), one small shuffle of
    * k×dim partial-sum rows, and a kilobyte collect. Fine seeds are
    * each cell's nFine smallest-xxhash members (the [[seedCodebook]]
    * rule per cell); cells with fewer members keep a RAGGED book
    * (assignment only ever consults a cell's real centroids, so no
    * phantom list captures rows).
    *
    * Returns (coarse, fine-books, flat): `flat` has nCoarse·nFine
    * rows indexed by list_id with empty slots carrying their cell's
    * coarse centroid — probe metadata only (an empty list's radius is
    * 0, so the exact probe's bounds stay valid and a scan of it reads
    * nothing).
    */
  def trainTwoLevelCodebook(embeddings: DataFrame, nCoarse: Int, nFine: Int,
                            iters: Int = 2)
  : (Array[Array[Double]], Array[Array[Array[Double]]], Array[Array[Double]]) = {
    import org.apache.spark.sql.expressions.Window
    // a corpus smaller than the grid yields a SHORT coarse book
    // (seedCodebook caps at n rows) — size everything off the book we
    // actually got, like the flat writeIvfIndex does, instead of
    // indexing past it
    val coarse = trainCodebook(embeddings, nCoarse, iters)
    val nc = coarse.length
    val withC = embeddings.select(col("vec_id"),
      col("embedding"),
      HashExprs.nearestCentroid(col("embedding"), coarse).as("cid"))
    // per-cell seeds: the nFine smallest-xxhash members (uniform,
    // id-order-independent), ragged where a cell is small. Rank over
    // the NARROW (cid, vec_id) projection and broadcast the nc·nFine
    // winners back onto the embeddings scan: this seed window runs at
    // INGEST over the whole corpus, and ranking ids moves ~12
    // bytes/row through the exchange instead of the d-double payload
    // (guide §2.3 — shuffle keys, not payloads); the broadcast join
    // attaches the winning embeddings without re-shuffling them.
    // Same seeds (rank expression unchanged), same ragged books.
    val w = Window.partitionBy("cid")
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
    val ranked = withC.select(col("cid"), col("vec_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nFine)
      .select(col("cid"), (col("rn") - 1).as("fid"), col("vec_id"))
    val seedRows = embeddings
      .join(broadcast(ranked), Seq("vec_id"))
      .select(col("cid"), col("fid"),
        col("embedding").cast("array<double>").as("cent"))
      .collect()
    val fine: Array[Array[Array[Double]]] = {
      val byCell = seedRows.groupBy(_.getAs[Int]("cid"))
      Array.tabulate(nc) { c =>
        byCell.getOrElse(c, Array.empty)
          .sortBy(_.getAs[Int]("fid"))
          .map(_.getSeq[Double](2).toArray)
      }
    }
    for (_ <- 1 to iters) {
      // fused per-(list, dim) update — see [[trainCodebook]]; the
      // factored assignment stays in the projection, the aggregate
      // only accumulates
      val sums = twoLevelAssigned(embeddings, coarse, fine, nFine)
        .select(graft.plans.SketchAggs.centroidSums(
          col("list_id"), col("embedding")).as("cs"))
        .head().getSeq[org.apache.spark.sql.Row](0)
      // clone each updated centroid ONCE per iteration (the seed arrays
      // are the pass above's broadcast books — in local mode the
      // broadcast value IS these driver arrays — so in-place writes
      // without a clone would corrupt them; re-cloning per (list, pos)
      // row is O(k·d²) driver copying)
      val cloned = scala.collection.mutable.Set.empty[Int]
      sums.foreach { r =>
        val lid = r.getAs[Int]("list_id")
        val (c, f) = (lid / nFine, lid % nFine)
        if (f < fine(c).length) {
          val s = r.getAs[java.math.BigDecimal]("s")
          val n = r.getAs[Long]("n")
          if (cloned.add(lid)) fine(c)(f) = fine(c)(f).clone()
          fine(c)(f)(r.getAs[Int]("pos")) =
            s.divide(java.math.BigDecimal.valueOf(n),
              java.math.MathContext.DECIMAL64).doubleValue()
        }
      }
    }
    val flat = Array.tabulate(nc * nFine) { lid =>
      val (c, f) = (lid / nFine, lid % nFine)
      if (f < fine(c).length) fine(c)(f) else coarse(c)
    }
    (coarse, fine, flat)
  }

  /** The two-level assignment pass shared by training, the index
    * writers and the head-book gates: ONE compiled expression
    * ([[HashExprs.twoLevelAssign]]) that per row picks the nearest
    * routed coarse cell, then the nearest centroid in only that cell's
    * fine book — each row pays coarse + one cell's ≤ nFine distances
    * (the 2√k·d contract). The books reach the executors as one
    * broadcast, so the plan carries no k·d constants at any grid size.
    * A null embedding lands in the first routed cell's first list (the
    * oracle's answer), so every input row yields exactly one output
    * row.
    */
  private[graft] def twoLevelAssigned(embeddings: DataFrame,
                                      coarse: Array[Array[Double]],
                                      fine: Array[Array[Array[Double]]],
                                      nFine: Int): DataFrame = {
    // route over the NON-EMPTY cells only: a cell Lloyd's left with no
    // members has no fine book, and an APPENDED vector from a drifted
    // batch may still be nearest to it — routing it there would land
    // it in a hole list (a padding slot, not a list the build could
    // produce). Restricting the coarse argmin to populated cells sends
    // such a vector to its nearest populated cell instead; at build
    // time the restriction is a no-op (no training row is nearest an
    // empty cell, by definition of empty).
    val cells = coarse.indices.filter(c => fine(c).nonEmpty)
    require(cells.nonEmpty,
      "two-level assignment needs a non-empty codebook (empty input corpus?)")
    val books = embeddings.sparkSession.sparkContext.broadcast(
      graft.plans.RoutedBooks(cells.map(coarse).toArray,
        cells.map(fine).toArray, cells.map(_ * nFine).toArray))
    embeddings.select(col("vec_id"), col("embedding"),
      HashExprs.twoLevelAssign(col("embedding"), books).as("list_id"))
  }

  /** Persist a TWO-LEVEL IVF index — [[writeIvfIndex]] past the flat
    * ceiling: the flat (list_id, cent) codebook file and the
    * list_id-partitioned assignment are byte-compatible with the flat
    * layout, so EVERY existing probe ([[ivfTopKExactIndexed]],
    * [[ivfTopKIndexed]], [[ivfListSizes]]), the tombstone/compact
    * maintenance, and the drift report run unchanged over it — only
    * the assignment pass (here and for appended batches via the
    * coarse book persisted alongside) pays n·2√k·d instead of n·k·d.
    * The exact-guarantee probe stays exact over ANY assignment (its
    * per-list radii are computed from actual members), so the gate
    * oracle remains plain brute force.
    */
  def writeTwoLevelIvfIndex(embeddings: DataFrame, path: String,
                            targetCluster: Int = 256, iters: Int = 2): Unit =
    writeTwoLevelIvfIndexWith(embeddings, path,
      trainTwoLevelBooks(embeddings, targetCluster, iters))

  /** [[writeTwoLevelIvfIndex]] with caller-supplied books — the
    * injection point mirroring [[writeIvfIndexWith]]: gates pin the
    * SQL-replayable head-derived books ([[headTwoLevelBooks]] — an
    * oracle cannot replay hierarchical Lloyd's), production callers
    * pass [[trainTwoLevelBooks]] output.
    */
  def writeTwoLevelIvfIndexWith(embeddings: DataFrame, path: String,
                                books: TwoLevelBooks): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // full rebuild: previous-generation tombstones/marks/staging drop
    // (the coarse book is overwritten below, not dropped)
    resetIvfIndexSides(spark, path, dropCoarse = false)
    books.flat.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("list_id", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    // the coarse book rides with each cell's REAL fine-book length, so
    // maintenance ([[appendToTwoLevelIvfIndex]]) can rebuild the ragged
    // books from the flat slices without guessing at hole padding
    books.coarse.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq, books.fine(i).length) }
      .toDF("coarse_id", "cent", "n_fine")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook_coarse")
    assignTwoLevel(embeddings, books)
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/assigned")
  }

  /** Index MAINTENANCE for the two-level index — [[appendToIvfIndex]]
    * with the FACTORED assignment: the batch routes through the stored
    * coarse book (`codebook_coarse`) and then its cell's fine slice of
    * the flat codebook, costing batch·2√k·d like the build (the flat
    * append would silently pay batch·k·d and, worse, route by global
    * nearest — a different cell than the factored pass picks, breaking
    * build↔append assignment parity). Hole slots (a cell's flat slice
    * padded with its coarse centroid where the cell had fewer members
    * than √k at build) are excluded from the batch's fine books the
    * same way the build's ragged books excluded them, so an appended
    * vector can only land in a list the build could have produced.
    * Probes stay partition-pruned and exact (radii over live rows).
    */
  def appendToTwoLevelIvfIndex(spark: org.apache.spark.sql.SparkSession,
                               path: String, newVecs: DataFrame): Unit = {
    require(isTwoLevelIndex(spark, path),
      s"appendToTwoLevelIvfIndex: $path carries no codebook_coarse")
    // the shared routing point resolves to the factored pass here
    // (readTwoLevelBooks rebuilds the ragged books from the recorded
    // per-cell lengths); kept as a named op so call sites state intent
    appendToIvfIndex(spark, path, newVecs)
  }

  /** [[retrainIvfIndex]] for the TWO-LEVEL index: the flat retrain
    * would silently collapse the factored structure (train a flat
    * codebook and pay n·k·d on every future append), so a two-level
    * index retrains two-level — hierarchical k-means over LIVE rows at
    * the grid [[twoLevelGrid]] picks for the live count, fresh flat
    * codebook + coarse book (+ recorded ragged lengths) + reassignment
    * written to sibling tmp dirs, then swapped in place; tombstones
    * fold for free exactly like the flat retrain. The grid RESIZES
    * with the live corpus — an index that grew 10× since build gets
    * √k-larger books, keeping the per-append cost on the factored
    * curve.
    */
  def retrainTwoLevelIvfIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String, targetCluster: Int = 256,
                              iters: Int = 2): Unit =
                              graft.sources.IndexMaintenance
                                .withWriterLeaseAt(spark, path) {
    import spark.implicits._
    val fs = graft.sources.IndexMaintenance.fsFor(spark, path)
    recoverRetrainSwap(spark, path)
    val live = liveAssigned(spark, path).select("vec_id", "embedding")
    val g = twoLevelGrid(live.count(), targetCluster)
    val (coarse, fine, flat) = trainTwoLevelCodebook(live, g, g, iters)
    twoLevelAssigned(live, coarse, fine, g)
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$path/assigned_retrain_tmp")
    flat.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("list_id", "cent")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/codebook_retrain_tmp")
    coarse.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq, fine(i).length) }
      .toDF("coarse_id", "cent", "n_fine")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/codebook_coarse_retrain_tmp")
    // crash-safe swap shared with the flat retrain: the marker lands
    // only after ALL THREE components staged, so a committed generation
    // can never fold half — the coarse book and the flat codebook it
    // indexes into move atomically-or-recoverably together
    commitRetrain(fs, path,
      Seq("assigned", "codebook", "codebook_coarse"))
    foldRetrain(fs, path)
  }

  /** Per-list sizes of an IN-QUERY flat assignment — the
    * assignment-COST measurement form (its twin
    * [[twoLevelHeadListSizes]] runs the factored pass on the same
    * corpus): the timed work is exactly one n·k·d nearest-centroid
    * scan plus a k-row aggregate, so a scaling-audit row on this key
    * reads the flat ceiling directly.
    */
  def assignListSizes(embeddings: DataFrame,
                      cents: Array[Array[Double]]): DataFrame =
    assignLists(embeddings, cents)
      .groupBy("list_id").agg(count(lit(1)).as("n_vectors"))
      .orderBy("list_id")

  /** The TWO-LEVEL assignment-cost measurement twin, SQL-replayable:
    * coarse book = the first √k corpus embeddings by vec_id (the
    * [[headCodebook]] convention), fine book per cell = the cell's
    * first √k members by vec_id — both pure functions of the table, so
    * DuckDB re-derives cell, fine pick, and the flattened list id.
    * Work shape is the production two-level pass (n·2√k·d): one
    * compiled coarse-then-fine argmin projection, one k-row aggregate.
    * Only the BOOKS differ from [[writeTwoLevelIvfIndex]] (head-picked
    * vs trained — an oracle cannot replay Lloyd's), which moves list
    * boundaries but not cost, exactly like [[headCodebookSized]] vs
    * [[semDedup]]'s trained codebook.
    */
  def twoLevelHeadListSizes(embeddings: DataFrame,
                            targetCluster: Int = 256): DataFrame =
    assignTwoLevel(embeddings, headTwoLevelBooks(embeddings, targetCluster))
      .groupBy("list_id").agg(count(lit(1)).as("n_vectors"))
      .orderBy("list_id")

  /** Embedding takedown for the persisted IVF index — merge-on-read
    * tombstones (the [[graft.sources.IndexMaintenance]] mechanism,
    * path form): the vector drops out of every probe immediately at
    * O(batch) cost; the codebook keeps its trained centroids (a
    * deleted vector's influence on k-means means is history, not
    * index content — the standard IVF delete semantics).
    */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, ids: DataFrame): Unit =
    graft.sources.IndexMaintenance.tombstoneAt(spark, path, ids, "vec_id")

  /** Fold IVF tombstones into the list-partitioned files (same
    * layout, codebook untouched). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit = {
    // a crashed retrain's committed generation folds first — compaction
    // must rewrite the generation that will be served
    val fs = graft.sources.IndexMaintenance.fsFor(spark, path)
    if (fs.exists(retrainMarker(path))) foldRetrain(fs, path)
    graft.sources.IndexMaintenance.compactAt(
      spark, s"$path/assigned", path, "vec_id") { (live, tmp) =>
      live.write.mode("overwrite").partitionBy("list_id").parquet(tmp)
    }
  }

  /** IVF top-k with an EXACT-recall guarantee (triangle-inequality
    * list pruning). Works in the normalized-vector geometry where
    * cosine and L2 are interchangeable: ‖y′−q′‖² = 2 − 2·cos(y,q).
    *
    * Phase 1 scores the `nProbe` lists nearest the query → an upper
    * bound d_k on the true kth distance (any k candidates give one).
    * Phase 2 scans every other list whose lower bound
    * ‖c′−q′‖ − r_c (reverse triangle inequality; r_c = the list's
    * max member distance to its normalized centroid) is ≤ d_k — any
    * unscanned vector is provably outside the top k. On a clustered
    * corpus phase 2 touches few or no lists, so this runs at IVF
    * cost; on a structureless corpus it degrades to a full scan but
    * NEVER returns a wrong answer — which is why its gate oracle can
    * be plain brute force, unlike a fixed-nProbe probe whose recall
    * is a property of the data.
    *
    * All bound comparisons carry a 1e-9 slack: the bounds are strict
    * with exact arithmetic, the slack absorbs double noise. At scale
    * the per-list stats (centroid, r_c) are index metadata computed
    * at ingest, and each phase is a partition-pruned scan of the
    * list-partitioned table.
    */
  def ivfTopKExact(embeddings: DataFrame, queryId: Long, k: Int,
                   nCentroids: Int = 16, nProbe: Int = 4,
                   trainIters: Int = 3): DataFrame = {
    val cents =
      if (trainIters <= 0) seedCodebook(embeddings, nCentroids)
      else trainCodebook(embeddings, nCentroids, trainIters, sampleMod = 4)
    // cached: the assigned table feeds FOUR actions in the probe
    // (radii, query lookup, phase-1 scoring, phase-2 scoring) —
    // without the cache each one re-scans the corpus and re-runs the
    // centroid assignment. This is the in-memory stand-in for what a
    // real deployment materializes at ingest ([[writeIvfIndex]]'s
    // list-partitioned table, probed by [[ivfTopKExactIndexed]]).
    val assigned = embeddings.select(col("vec_id"), col("embedding"),
      HashExprs.nearestCentroid(col("embedding"), cents).as("list_id"))
      .cache()
    lastIndexCache.set(assigned)
    exactProbe(assigned, cents, queryId, k, nProbe)
  }

  /** The calling THREAD's most recent [[ivfTopKExact]] in-query index
    * cache — a spec observability hook: its release is asserted
    * per-handle (`storageLevel == NONE`) instead of via the
    * session-global cache manager, and thread-locally so concurrent
    * suites (or gate runs) never observe each other's in-flight
    * caches.
    */
  private[graft] val lastIndexCache = new ThreadLocal[DataFrame]

  /** [[ivfTopKExact]] over the PERSISTED index ([[writeIvfIndex]]):
    * no training, no assignment pass — the codebook is kilobytes read
    * to the driver and the probe phases filter on list_id, which the
    * list-partitioned layout turns into partition-pruned reads. Same
    * triangle-inequality guarantee, so its gate oracle is plain brute
    * force, exactly like the in-query exact path. The per-list radii
    * are recomputed here in one pass over the index; a real
    * deployment persists them at ingest as index metadata next to the
    * codebook.
    */
  def ivfTopKExactIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                          queryId: Long, k: Int, nProbe: Int = 4): DataFrame = {
    val cents = graft.sources.Tables.parquet(spark, s"$path/codebook")
      .orderBy("list_id").collect().map(vecOf(_, "cent"))
    exactProbe(liveAssigned(spark, path), cents, queryId, k, nProbe)
  }

  /** The exact-guarantee probe shared by [[ivfTopKExact]] (cached
    * in-query index) and [[ivfTopKExactIndexed]] (persisted index).
    * `assigned` carries (vec_id, embedding, list_id); it is
    * unpersisted before returning (a no-op when it was never cached).
    */
  private def exactProbe(assigned: DataFrame, cents: Array[Array[Double]],
                         queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val eps = 1e-9
    val spark = assigned.sparkSession
    import spark.implicits._
    // per-list radius in normalized space: r_c = max ‖y′ − c′‖ over
    // members; one distributed pass, broadcast join on the tiny
    // codebook (‖y′−c′‖² = 2 − 2·cos(y,c), cosine is scale-invariant).
    // The QUERY VECTOR rides the same aggregate (first non-null
    // embedding where vec_id = queryId per list) — one pass over the
    // assigned table instead of a separate take(1) scan that
    // materialized the cache a second time before the radii pass.
    val centDf = broadcast(cents.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("list_id", "cent"))
    val statRows = assigned
      .join(centDf, "list_id")
      .groupBy("list_id")
      .agg(max(sqrt(greatest(lit(0.0),
        lit(2.0) - lit(2.0) * cosine(col("embedding"), col("cent"))))).as("r"),
        first(when(col("vec_id") === queryId, col("embedding")),
          ignoreNulls = true).as("qv"))
      .collect()
    val radii: Map[Int, Double] =
      statRows.map(r => r.getAs[Int]("list_id") -> r.getAs[Double]("r")).toMap
    val qRows = statRows.filter(r => !r.isNullAt(r.fieldIndex("qv")))
    if (qRows.isEmpty) {
      assigned.unpersist()
      return assigned.filter(lit(false))
        .select(col("vec_id"), lit(0.0).as("cos_sim"))
    }
    val qVec = vecOf(qRows(0), "qv")
    val qNorm = math.sqrt(qVec.map(x => x * x).sum)

    def centDist(i: Int): Double = {
      val c = cents(i)
      val cn = math.sqrt(c.map(x => x * x).sum)
      if (cn == 0 || qNorm == 0) 0.0 // degenerate → no pruning power
      else {
        var dot = 0.0
        var j = 0
        while (j < math.min(c.length, qVec.length)) { dot += c(j) * qVec(j); j += 1 }
        math.sqrt(math.max(0.0, 2.0 - 2.0 * dot / (cn * qNorm)))
      }
    }
    val byDist = (0 until cents.length).sortBy(centDist)
    val probe = byDist.take(nProbe).toSet

    def scoreLists(lists: Set[Int]): DataFrame =
      assigned
        .filter(col("list_id").isin(lists.toSeq: _*) && col("vec_id") =!= queryId)
        .select(col("vec_id"),
          round(cosine(col("embedding"), typedLit(qVec)), 4).as("cos_sim"),
          cosine(col("embedding"), typedLit(qVec)).as("cos_raw"))

    // phase 1: upper bound on the kth distance from the seed lists
    // (fewer than k candidates → unbounded → phase 2 scans all lists)
    val seedTop = scoreLists(probe)
      .orderBy(col("cos_raw").desc, col("vec_id")).limit(k).collect()
    val dK = if (seedTop.length < k) Double.MaxValue
    else math.sqrt(math.max(0.0,
      2.0 - 2.0 * seedTop.last.getAs[Double]("cos_raw")))

    val extra = (0 until cents.length)
      .filterNot(probe)
      .filter(i => centDist(i) - radii.getOrElse(i, 0.0) <= dK + eps)
      .toSet
    // materialize the k result rows eagerly (localCheckpoint stores k
    // rows, nothing more) so the cached index can be RELEASED before
    // returning — a long-lived session otherwise accumulates one
    // pinned corpus copy per query. A real deployment materializes
    // the index at ingest and owns its lifecycle there.
    val result = scoreLists(probe ++ extra)
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cos_sim"))
      .localCheckpoint(true)
    assigned.unpersist()
    result
  }

  /** Brute-force cosine top-k over the INT8-QUANTIZED embeddings —
    * retrieval at storage precision (1 byte/dim, the
    * [[graft.plans.HashExprs.quantizeI8]] artifact), completing the
    * compress-then-search story: quantize at ingest, search the
    * quantized table, never rehydrate floats.
    *
    * The symmetric per-vector scale cancels in the cosine quotient,
    * so scoring is EXACT integer arithmetic (compiled
    * [[graft.plans.HashExprs.cosineSimI8]]): long dot + norms, one
    * double division — 4× less scan I/O than the float path and
    * bit-reproducible across engines. Same scale shape as
    * [[bruteForceTopK]]: 1-row query broadcast, per-partition
    * TakeOrdered, zero shuffles of the corpus.
    */
  def int8TopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val quant = embeddings.select(col("vec_id"),
      HashExprs.quantizeI8(col("embedding")).as("qv"))
    val q = quant.filter(col("vec_id") === queryId)
      .select(col("qv").as("q_qv"))
    quant.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(HashExprs.cosineSimI8(col("qv"), col("q_qv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** LSH-bucketed approximate top-k with MULTI-PROBE: both the corpus
    * and the query get sign-projection band buckets; rows whose bucket
    * is within hamming distance `probeHamming` of the query's on
    * EITHER band are scored. Single-bucket probing (probeHamming=0)
    * misses near neighbors that flip one marginal projection bit —
    * multi-probe recovers most of that recall for 9× the probed
    * buckets per band (of 256), still a tiny corpus fraction.
    *
    * On a cluster the bucket id is the partition key; the probe set
    * is enumerable (all keys within hamming r), so this stays a
    * partition-pruned read — the bit_count filter below is the same
    * predicate in scan form.
    */
  def lshTopK(embeddings: DataFrame, queryId: Long, k: Int, dim: Int = 64,
              probeHamming: Int = 1): DataFrame = {
    val bits = HashExprs.signProjBits(col("embedding"), Dedup.hyperplanes(16, dim))
    val withBuckets = embeddings.select(col("vec_id"), col("embedding"), bits.as("bits"))
      .select(col("vec_id"), col("embedding"),
        col("bits").bitwiseAND(lit(0xFFL)).as("b0"),
        shiftrightunsigned(col("bits"), 8).bitwiseAND(lit(0xFFL)).as("b1"))
    val q = withBuckets.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"), col("b0").as("qb0"), col("b1").as("qb1"))
    withBuckets.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .filter(
        bit_count(col("b0").bitwiseXOR(col("qb0"))) <= probeHamming ||
        bit_count(col("b1").bitwiseXOR(col("qb1"))) <= probeHamming)
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q_embedding")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Embedding-space DRIFT between two corpus snapshots — the
    * [[graft.operators.TextPipeline.corpusDrift]] analog for the
    * vector side: per label, the L1 distance between the snapshots'
    * mean vectors, computed ENTIRELY in integers so the report is
    * engine-exact (float mean vectors drift with summation order —
    * useless as a cross-engine or cross-run comparison baseline).
    *
    * Mechanics: vectors quantize through the shared int8 expression
    * ([[graft.plans.HashExprs.quantizeI8]]), per-(label, dim) SUMS
    * and per-label counts aggregate per snapshot, and the mean
    * difference |sa/na − sb/nb| rides as the cross-multiplied
    * |sa·nb − sb·na| over a decimal(38) cast (overflow-proof at any
    * corpus size). Output per label: snapshot sizes and the L1 shift
    * in milli-quant units, `(10⁴·Σ_dims |sa·nb − sb·na|) div (na·nb)`.
    * Labels present in only one snapshot are omitted (no mean to
    * compare against).
    *
    * Scale: two narrow aggregates per snapshot (L×dims and L rows),
    * broadcast-joined — the corpus is scanned twice, shuffled never.
    * Snapshots here are the deterministic vec_id mod slices the drift
    * family uses as its two-crawl stand-in.
    */
  /** Per-label centroid report over int8-QUANTIZED components — the
    * cluster-health readout next to [[embedDrift]]: for every (label,
    * dimension) the exact quantized component sum, member count, and
    * the 4dp integer-identity mean (sign split: the bare div identity
    * is HALF_UP only for non-negative sums, and quantized components
    * are signed). Float centroids are summation-order-dependent —
    * useless as a cross-run artifact; the integer form is
    * bit-reproducible, which is what makes it diffable between
    * ingests. One explode + one (label, dim) aggregate, map-side
    * combinable; output is |labels| × dims rows, constant in corpus
    * size.
    */
  /** Deterministic SQL-replayable codebook: the `nCentroids` smallest
    * vec_ids' embeddings. An oracle cannot replay k-means, but it can
    * replay `ORDER BY vec_id LIMIT k` — the same injection point the
    * drift gate uses ([[writeIvfIndexWith]]); production callers pass
    * [[trainCodebook]] output instead.
    */
  def headCodebook(embeddings: DataFrame, nCentroids: Int): Array[Array[Double]] =
    embeddings.orderBy("vec_id").limit(nCentroids)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** [[headCodebook]] sized to the corpus the way [[semDedup]] sizes
    * its trained one: k = max(16, ⌈n / targetCluster⌉). This keeps the
    * SQL-REPLAYABLE gate form on the same linear pair-volume curve as
    * the production trained form — a fixed k would make the
    * within-cluster pair volume n²/k, quadratic in n (the scaling
    * audit times the gate keys as-is, so the gate geometry must be the
    * scale-right one).
    */
  def headCodebookSized(embeddings: DataFrame,
                        targetCluster: Int = 256): Array[Array[Double]] =
    headCodebook(embeddings, math.max(16,
      math.ceil(embeddings.count().toDouble / targetCluster).toInt))

  /** Centroid-partitioned corpus: one compiled nearest-centroid pass
    * (ties to the lowest list, the [[HashExprs.nearestCentroid]] IEEE
    * fold), shared by [[semDedupWith]] and [[knnGraphWith]].
    */
  private def assignLists(embeddings: DataFrame,
                          cents: Array[Array[Double]]): DataFrame =
    embeddings.select(col("vec_id"), col("embedding"),
      HashExprs.nearestCentroid(col("embedding"), cents).as("list_id"))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-
    * partitioned SEMANTIC dedup — partition the corpus by nearest
    * centroid, then prune, within each cluster, every vector whose
    * cosine to some EARLIER cluster member is ≥ `tau`. The earlier-id
    * rule is the reference implementation's convention (it prunes
    * against all prior items in a fixed within-cluster order,
    * regardless of whether the prior item itself survived) made
    * deterministic on vec_id; the kept set is what a curation pass
    * feeds downstream.
    *
    * This catches the LOW-similarity semantic band (paraphrases,
    * templated rewrites) that the banded near-dup
    * ([[graft.operators.Dedup.embeddingNearDup]]) is mis-shaped for:
    * banding recall falls off steeply below its design threshold,
    * while cluster partitioning keeps ALL within-cluster pairs
    * regardless of similarity.
    *
    * 100 TB shape: no all-pairs step — the only shuffle is the
    * cluster-key self-join, and pair volume is Σ|cluster|² ≈
    * n·(n/k). Sizing k ∝ n (a target cluster size, [[semDedup]])
    * makes that linear in n — the SemDeDup paper's own regime (tens
    * of thousands of clusters over billions of docs; assignment is
    * one compiled scan against a broadcast codebook).
    *
    * Output: (vec_id, list_id, kept, near_id, max_cos) — `near_id` the
    * smallest qualifying earlier neighbor (−1 if kept), `max_cos` the
    * strongest qualifying similarity (0.0 if kept), both 4dp like
    * every cosine in the library.
    */
  def semDedupWith(embeddings: DataFrame, cents: Array[Array[Double]],
                   tau: Double = 0.35): DataFrame =
    semDedupAssigned(blockPartitioned(assignLists(embeddings, cents)), tau)

  /** Repartition an IN-QUERY assignment on the block key before the
    * pair self-join — CONDITIONALLY: only when the scan's own
    * parallelism is below the session's shuffle width. The dedup_simhash
    * r13 lesson applied to the cluster-blocked family: when the corpus
    * side fits the broadcast threshold, the pair join inherits the
    * SCAN's file-count parallelism, and a one-file mid-scale corpus
    * runs its whole within-block pair volume in a single task
    * (measured: knn_graph 6.1 s at 10×-wide vs 5.3 s at 30×-wide — the
    * smaller corpus SLOWER, because 30× crosses the threshold into a
    * 32-partition SortMergeJoin). One narrow-row shuffle restores
    * key-parallelism exactly where it is missing; at TRUE scale —
    * thousands of input splits, where the pair join either broadcasts
    * over an already-wide scan or shuffles on this same key anyway —
    * the input is already at least shuffle-wide and the exchange is
    * SKIPPED, so the at-scale plan never pays a corpus-wide exchange
    * the persisted twins don't (their list-partitioned/bucketed layout
    * carries the distribution; they never take this path).
    */
  private def blockPartitioned(assigned: DataFrame): DataFrame = {
    val width = assigned.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    // physical-plan partition count of the narrow assignment (scan +
    // compiled projection): planning only, nothing executes
    if (assigned.queryExecution.toRdd.getNumPartitions >= width) assigned
    else assigned.repartition(col("list_id"))
  }

  /** The prune pass over an ALREADY-ASSIGNED frame (vec_id, embedding,
    * list_id) — shared by the in-query form ([[semDedupWith]]) and the
    * persisted-assignment form ([[semDedupFromIndex]]).
    */
  private def semDedupAssigned(assigned: DataFrame, tau: Double): DataFrame = {
    val a = assigned.select(col("list_id"), col("vec_id").as("a"),
      col("embedding").as("va"))
    val b = assigned.select(col("list_id"), col("vec_id").as("b"),
      col("embedding").as("vb"))
    val pruned = a.join(b, "list_id")
      .filter(col("a") < col("b"))
      .withColumn("cosine", round(HashExprs.cosineSim(col("va"), col("vb")), 4))
      .filter(col("cosine") >= tau)
      .groupBy(col("b").as("vec_id"))
      .agg(min(col("a")).as("near_id"), max(col("cosine")).as("max_cos"))
    assigned
      .join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        col("near_id").isNull.as("kept"),
        coalesce(col("near_id"), lit(-1L)).as("near_id"),
        (coalesce(col("max_cos"), lit(0.0)) + lit(0.0)).as("max_cos"))
      .orderBy("vec_id")
  }

  /** [[semDedupWith]] over a PERSISTED assignment (the IVF index
    * layout: codebook + list-partitioned assigned rows,
    * [[writeIvfIndexWith]]): the nearest-centroid pass is paid once at
    * ingest, the prune reads list-partitioned rows whose partitioning
    * IS the pair-join key, and tombstoned takedowns drop out via the
    * shared live view — the persisted-index lifecycle applied to the
    * semantic family. Same output contract as the in-query form
    * (shared oracle under the same codebook).
    */
  def semDedupFromIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, tau: Double = 0.35): DataFrame =
    semDedupAssigned(liveAssigned(spark, path), tau)

  /** Incremental SEMANTIC admission check: an arriving vector batch
    * against the persisted corpus assignment — "is this batch
    * semantically novel, or a paraphrase of something already
    * admitted?" — the semantic-family analog of
    * [[graft.operators.Dedup.minhashLshAgainstIndex]]. Only the batch
    * runs the nearest-centroid pass (under the STORED codebook — the
    * aging story is IVF's: [[ivfDriftReport]] on the same layout);
    * the corpus side is read PARTITION-PRUNED to the lists the batch
    * actually touches, so the check costs O(batch × touched lists),
    * never a corpus pass. A batch vector is refused admission when
    * ANY live corpus vector in its list has cosine ≥ `tau` (corpus
    * rows are all "earlier" — already admitted).
    *
    * Output: (vec_id, list_id, admitted, near_id, max_cos) — near_id
    * the smallest qualifying corpus neighbor (−1 if admitted).
    */
  def semDedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String, newVecs: DataFrame,
                           tau: Double = 0.35,
                           excludeBatch: Boolean = false): DataFrame = {
    // routed assignment ([[assignUnderIndex]]): factored batch·2√k·d
    // over a two-level index, flat only when the index is flat
    val batch = assignUnderIndex(spark, path, newVecs)
    val touched = batch.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    // excludeBatch: drop the batch's OWN ids from the corpus side —
    // the crash-replay form ([[graft.streaming.StreamingRollups.semanticCurationStream]]):
    // a redelivered batch whose vectors already appended must compute
    // the SAME admitted set, not refuse every vector against its own
    // appended copy (broadcast anti-join on the batch's bounded ids)
    val corpusAll = liveAssigned(spark, path)
      .filter(col("list_id").isin(touched: _*))
    val corpus = (if (excludeBatch)
      corpusAll.join(broadcast(newVecs.select("vec_id")), Seq("vec_id"), "left_anti")
    else corpusAll)
      .select(col("list_id"), col("vec_id").as("c"), col("embedding").as("vc"))
    val hits = batch
      .select(col("list_id"), col("vec_id").as("b"), col("embedding").as("vb"))
      .join(corpus, "list_id")
      .withColumn("cosine", round(HashExprs.cosineSim(col("vb"), col("vc")), 4))
      .filter(col("cosine") >= tau)
      .groupBy(col("b").as("vec_id"))
      .agg(min(col("c")).as("near_id"), max(col("cosine")).as("max_cos"))
    batch
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        col("near_id").isNull.as("admitted"),
        coalesce(col("near_id"), lit(-1L)).as("near_id"),
        (coalesce(col("max_cos"), lit(0.0)) + lit(0.0)).as("max_cos"))
      .orderBy("vec_id")
  }

  /** SEMANTIC CLUSTERS: connected components over the within-cluster
    * threshold graph — the edge set is [[semDedupWith]]'s qualifying
    * pair set (same blocks, same τ), components run through the shared
    * label-propagation machinery
    * ([[graft.operators.Dedup.clusterPairs]]: min-label propagation +
    * pointer jumping, parallelism sized by edge count). Where
    * semdedup's earlier-id rule PRUNES, this GROUPS: the (vec_id,
    * cluster_id, is_canonical) assignment is what mixture planning and
    * topic-level curation consume — "this embedding-space region is
    * one templated document family" — with the same conventions as the
    * minhash `dedup_cluster` assignment (cluster id = component min).
    * Blocks carry no cross-list edges, so components never span lists
    * and the pair volume stays the semdedup linear-under-k∝n shape.
    */
  def semanticClusters(embeddings: DataFrame, cents: Array[Array[Double]],
                       tau: Double = 0.35): DataFrame =
    semanticClustersAssigned(
      blockPartitioned(assignLists(embeddings, cents)), tau)

  /** The components pass over an ALREADY-ASSIGNED frame (vec_id,
    * embedding, list_id) — shared by the flat form
    * ([[semanticClusters]]) and the factored form
    * ([[semanticClustersTwoLevel]]): the within-list τ-edge set, then
    * the shared label-propagation machinery.
    */
  private[graft] def semanticClustersAssigned(assigned: DataFrame,
                                              tau: Double): DataFrame = {
    val a = assigned.select(col("list_id"), col("vec_id").as("a"),
      col("embedding").as("va"))
    val b = assigned.select(col("list_id"), col("vec_id").as("b"),
      col("embedding").as("vb"))
    val pairs = a.join(b, "list_id")
      .filter(col("a") < col("b"))
      .filter(round(HashExprs.cosineSim(col("va"), col("vb")), 4) >= tau)
      .select("a", "b")
    graft.operators.Dedup.clusterPairs(pairs,
        assigned.select(col("vec_id").as("doc_id")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        col("is_canonical"))
      .orderBy("vec_id")
  }

  /** The size histogram over [[semanticClusters]] — the semantic twin
    * of `dedup_cluster_stats` (shared histogram definition, so the two
    * families report on one scale).
    */
  def semanticClusterStats(embeddings: DataFrame,
                           cents: Array[Array[Double]],
                           tau: Double = 0.35): DataFrame =
    graft.operators.Dedup.sizeHistogram(
      semanticClusters(embeddings, cents, tau).select("cluster_id"))

  /** Per-list LIVE row counts of a path-based index — the list-balance
    * report an IVF/semantic-index owner reads (a hot list means a
    * stale codebook or a template flood; the retrain signal's cheap
    * companion), and the probe surface the admission-ingest gate
    * checks. Honors tombstones via the shared live view.
    */
  def ivfListSizes(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    liveAssigned(spark, path)
      .groupBy("list_id").agg(count(lit(1)).as("n_vectors"))
      .orderBy("list_id")

  /** Persist the SEMANTIC components assignment bucketed on
    * cluster_id — the `writeClusterIndex` lifecycle for embedding
    * space: components are computed once at ingest, every consumer
    * (size histogram, soft weights) reads the narrow bucketed table
    * with zero exchanges, and the shared tombstone/stale-cluster live
    * view applies unchanged because the table speaks the
    * cluster-index schema (doc_id = vec_id).
    */
  def writeSemanticClusterIndex(embeddings: DataFrame,
                                cents: Array[Array[Double]], table: String,
                                tau: Double = 0.35,
                                numBuckets: Int = 8): Unit = {
    // a full rebuild supersedes every side artifact (pending upsert
    // commit, stale-cluster ids, tombstones — a stale id surviving a
    // label-history reset could shadow a rebuilt cluster)
    graft.operators.Dedup.resetClusterIndexSides(embeddings.sparkSession, table)
    graft.sources.Sinks.writeBucketed(
      semanticClusters(embeddings, cents, tau)
        .select(col("vec_id").as("doc_id"), col("cluster_id")),
      table, Seq("cluster_id"), numBuckets)
  }

  /** The contracted τ-edge graph the semantic INCREMENTAL family
    * clusters over — [[graft.operators.Dedup.incrementalEdges]] in
    * embedding space, all work batch-sized:
    *
    *  - only the BATCH runs the nearest-centroid pass (under the
    *    index's stored codebook — the aging story is IVF's);
    *  - batch↔corpus edges come from the persisted assignment read
    *    PARTITION-PRUNED to the lists the batch touches (the
    *    [[semDedupAgainstIndex]] probe shape), with the corpus
    *    endpoint CONTRACTED to its persisted component id (one narrow
    *    join against the live cluster view — component ids are member
    *    minima, so the contracted graph's minima equal the union
    *    graph's);
    *  - batch↔batch edges are the within-list τ-pairs of the batch
    *    alone.
    *
    * Blocks carry no cross-list edges (the [[semanticClusters]]
    * contract), so merging these edges into the persisted components
    * reproduces the full rebuild over corpus ∪ batch under the same
    * codebook.
    */
  private def semanticIncrementalEdges(spark: org.apache.spark.sql.SparkSession,
                                       indexPath: String, clusterTable: String,
                                       newVecs: DataFrame,
                                       tau: Double): DataFrame = {
    // routed assignment: factored over a two-level index (the edge
    // lists must match the index's OWN list layout, or batch↔corpus
    // edges would pair across different partitionings)
    val batch = assignUnderIndex(spark, indexPath, newVecs)
    val touched = batch.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    val corpus = liveAssigned(spark, indexPath)
      .filter(col("list_id").isin(touched: _*))
      .select(col("list_id"), col("vec_id").as("c"), col("embedding").as("vc"))
    val bc = batch
      .select(col("list_id"), col("vec_id").as("a"), col("embedding").as("vb"))
      .join(corpus, "list_id")
      .filter(round(HashExprs.cosineSim(col("vb"), col("vc")), 4) >= tau)
      .select(col("a"), col("c"))
    // contract the corpus endpoint to its persisted component id; the
    // MUST-be-live view mirrors the lexical incremental: a superseded
    // cluster's old rows on disk would hand a vector two labels
    val assign = graft.operators.Dedup.liveClusterRows(spark, clusterTable)
      .select("doc_id", "cluster_id")
    val bcContracted = bc
      .join(assign.withColumnRenamed("doc_id", "c"), "c")
      .select(col("a"), col("cluster_id").as("b"))
    val bb = batch
      .select(col("list_id"), col("vec_id").as("a"), col("embedding").as("va"))
      .join(batch.select(col("list_id"), col("vec_id").as("b"),
        col("embedding").as("vb")), "list_id")
      .filter(col("a") < col("b"))
      .filter(round(HashExprs.cosineSim(col("va"), col("vb")), 4) >= tau)
      .select("a", "b")
    bb.unionByName(bcContracted)
  }

  /** The merged (node → new component label) map shared by
    * [[semanticClusterIncremental]] and [[upsertSemanticClusterIndex]]:
    * label propagation over the contracted graph, whose node set is
    * near-dup-edge-sized (batch ids ∪ touched component ids), never
    * the corpus.
    */
  private def semanticMergedLabels(spark: org.apache.spark.sql.SparkSession,
                                   indexPath: String, clusterTable: String,
                                   newVecs: DataFrame, tau: Double,
                                   maxIter: Int): DataFrame = {
    // batch-sized; materialized once — consumed by both node
    // projections and clusterPairs (each reference would otherwise
    // re-run the batch assignment + pair join end to end)
    val edges = semanticIncrementalEdges(spark, indexPath, clusterTable,
      newVecs, tau)
      .localCheckpoint(true)
    val nodes = edges.select(col("a").as("doc_id"))
      .unionByName(edges.select(col("b").as("doc_id")))
      .unionByName(newVecs.select(col("vec_id").as("doc_id")))
      .distinct()
    graft.operators.Dedup.clusterPairs(edges, nodes, maxIter)
      .select(col("doc_id").as("node"), col("cluster_id").as("new_label"))
  }

  /** INCREMENTAL maintenance for the semantic components —
    * [[graft.operators.Dedup.clusterIncremental]] applied to embedding
    * space: merge an arriving (already-admitted) vector batch's τ-edges
    * into the PERSISTED components without a corpus-wide pair join or
    * corpus-wide label propagation. Edge generation, contraction, and
    * propagation are all batch-sized ([[semanticIncrementalEdges]]);
    * untouched corpus rows pass through; edgeless batch vectors become
    * their own singletons.
    *
    * Output: (vec_id, cluster_id, is_canonical) over corpus ∪ batch,
    * IDENTICAL to re-running [[semanticClusters]] on the union under
    * the index's stored codebook — so the gate oracle is the same
    * recursive-reach components, over all rows assigned under the
    * residue codebook.
    */
  def semanticClusterIncremental(spark: org.apache.spark.sql.SparkSession,
                                 indexPath: String, clusterTable: String,
                                 newVecs: DataFrame, tau: Double = 0.35,
                                 maxIter: Int = 8): DataFrame = {
    val assign = graft.operators.Dedup.liveClusterRows(spark, clusterTable)
      .select("doc_id", "cluster_id")
    val merged = semanticMergedLabels(spark, indexPath, clusterTable,
      newVecs, tau, maxIter)
    val corpusOut = assign
      .join(merged.withColumnRenamed("node", "cluster_id"),
        Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
    val batchOut = newVecs.select(col("vec_id").as("doc_id"))
      .join(merged.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("doc_id")).as("cluster_id"))
    // NO ordering tail: the output is corpus-sized and no consumer
    // needs a global sort (upserts recompute labels internally; gates
    // order in their own projection) — sorting here would be the one
    // corpus-wide exchange in an otherwise batch-sized op
    corpusOut.unionByName(batchOut)
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        (col("cluster_id") === col("doc_id")).as("is_canonical"))
  }

  /** Persist an arriving batch's SEMANTIC component merge — the
    * write-back [[semanticClusterIncremental]] implies, completing the
    * embedding-space twin of the lexical loop
    * ([[graft.operators.Dedup.upsertClusterIndex]]): components whose
    * label moved stale-mark their old id in the shared
    * `_stale_clusters` side table, their member rows re-append under
    * the merged label through the SAME (cluster_id, numBuckets) bucket
    * spec the build used, and the batch vectors land as merged-label
    * rows or singletons. The semantic index speaks the cluster-index
    * schema (doc_id = vec_id), so [[graft.operators.Dedup.liveClusterRows]],
    * the anti-join live view, and [[graft.operators.Dedup.compactClusterIndex]]
    * apply verbatim — post-upsert, every consumer
    * ([[semanticWeightsFromIndex]], stats) still plans zero hash
    * exchanges and reads live rows ≡ a full [[semanticClusters]]
    * rebuild over corpus ∪ batch (spec-asserted). I/O is batch-sized:
    * the corpus embedding table is read only partition-pruned for edge
    * generation, and only superseded components' narrow assignment
    * rows rewrite. Single-writer, one apply per batch, like every
    * index-maintenance op here (on a cluster this is a Delta/Iceberg
    * MERGE commit).
    */
  def upsertSemanticClusterIndex(spark: org.apache.spark.sql.SparkSession,
                                 indexPath: String, clusterTable: String,
                                 newVecs: DataFrame, tau: Double = 0.35,
                                 maxIter: Int = 8, numBuckets: Int = 8): Unit =
                                 graft.sources.IndexMaintenance
                                   .withTableWriterLease(spark, clusterTable) {
    // crash recovery: fold any committed-but-unapplied predecessor
    // commit before reading the live view (single-writer contract)
    graft.operators.Dedup.applyStagedUpsert(spark, clusterTable, numBuckets)
    stageSemanticUpsertOnly(spark, indexPath, clusterTable, newVecs, tau,
      maxIter, numBuckets)
    graft.operators.Dedup.applyStagedUpsert(spark, clusterTable, numBuckets)
    ()
  }

  /** Compute a semantic upsert's merge and durably STAGE it without
    * applying — the crash-simulation seam for the staged-commit spec
    * (a "crash" between the commit rename and the apply is this method
    * returning). Production callers use [[upsertSemanticClusterIndex]],
    * which recovers, stages, then applies.
    */
  private[graft] def stageSemanticUpsertOnly(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String, clusterTable: String, newVecs: DataFrame,
      tau: Double = 0.35, maxIter: Int = 8, numBuckets: Int = 8): Unit = {
    val assign = graft.operators.Dedup.liveClusterRows(spark, clusterTable)
      .select("doc_id", "cluster_id")
    val merged = semanticMergedLabels(spark, indexPath, clusterTable,
      newVecs, tau, maxIter)
    val stale = merged
      .filter(col("new_label") =!= col("node"))
      .join(assign.select(col("cluster_id").as("node")).distinct(), "node")
      .select(col("node").as("cluster_id"), col("new_label"))
      .localCheckpoint(true)
    val relabeled = assign
      .join(broadcast(stale), Seq("cluster_id"))
      .select(col("doc_id"), col("new_label").as("cluster_id"))
    val batchRows = newVecs.select(col("vec_id").as("doc_id"))
      .join(merged.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_label"), col("doc_id")).as("cluster_id"))
    // STAGED COMMIT (see [[graft.operators.Dedup.upsertClusterIndex]]):
    // the staging write materializes `rows` while the live view still
    // shows the members being relabeled, and makes both frames durable
    // behind one atomic rename BEFORE the stale-mark — no crash point
    // loses member rows, and recovery folds idempotently
    val rows = relabeled.unionByName(batchRows)
    graft.operators.Dedup.stageUpsert(spark, clusterTable,
      stale.select("cluster_id").distinct(), rows, numBuckets)
  }

  /** [[semanticWeights]] off the persisted components — a narrow read
    * + two small aggregates, no assignment or pair join anywhere
    * (cluster once at ingest, reuse everywhere).
    */
  def semanticWeightsFromIndex(spark: org.apache.spark.sql.SparkSession,
                               table: String): DataFrame =
    graft.operators.Dedup.dedupWeightsFromIndex(spark, table)
      .withColumnRenamed("doc_id", "vec_id")

  /** SoftDeDup on the SEMANTIC components: weight 1/|component| per
    * vector instead of dropping — the downweight-don't-delete form of
    * [[semDedupWith]], sharing [[graft.operators.Dedup.softWeights]]'
    * integer-exact weight definition so lexical and semantic
    * downweighting compose on one scale.
    */
  def semanticWeights(embeddings: DataFrame, cents: Array[Array[Double]],
                      tau: Double = 0.35): DataFrame =
    graft.operators.Dedup.softWeights(
        semanticClusters(embeddings, cents, tau)
          .select(col("vec_id").as("doc_id"), col("cluster_id")))
      .withColumnRenamed("doc_id", "vec_id")

  /** [[semDedupWith]] under a TRAINED codebook sized to the corpus:
    * k = max(16, ⌈n / targetCluster⌉) keeps cluster size — and with it
    * the within-cluster pairwise volume — bounded as the corpus grows,
    * so total pair work stays ≈ n·targetCluster (linear in n). The one
    * `count()` is ingest-grade work, like [[graft.operators.Dedup.writeEmbedBandIndex]]'s.
    */
  def semDedup(embeddings: DataFrame, tau: Double = 0.35,
               targetCluster: Int = 256): DataFrame = {
    val k = math.max(16,
      math.ceil(embeddings.count().toDouble / targetCluster).toInt)
    semDedupWith(embeddings, trainCodebook(embeddings, k), tau)
  }

  // — the FACTORED semantic family: the same prune/group/graph passes
  // over the two-level (coarse ⋈ fine) assignment, so partitioning the
  // corpus costs n·2√k·d instead of the flat n·k·d — the measured
  // flat-assignment ceiling (`ivf_assign_flat` vs `ivf_assign_twolevel`)
  // removed from the semantic operators themselves. Cluster SIZE is
  // still governed by k ∝ n (the grid is √k × √k), so within-list pair
  // volume stays on the same linear-under-k∝n curve; only the list
  // boundaries move (different books ⇒ different partitions — the same
  // relationship trained-vs-head books already have). Production
  // callers pass [[trainTwoLevelBooks]]; gates pin the SQL-replayable
  // [[headTwoLevelBooks]].

  /** [[semDedupWith]] under factored books — assignment n·2√k·d. */
  def semDedupTwoLevel(embeddings: DataFrame, books: TwoLevelBooks,
                       tau: Double = 0.35): DataFrame =
    semDedupAssigned(blockPartitioned(assignTwoLevel(embeddings, books)), tau)

  /** [[semanticClusters]] under factored books. */
  def semanticClustersTwoLevel(embeddings: DataFrame, books: TwoLevelBooks,
                               tau: Double = 0.35): DataFrame =
    semanticClustersAssigned(
      blockPartitioned(assignTwoLevel(embeddings, books)), tau)

  /** [[semanticWeights]] under factored books (shared integer weight
    * identity — lexical, flat-semantic and factored-semantic
    * downweighting compose on one scale).
    */
  def semanticWeightsTwoLevel(embeddings: DataFrame, books: TwoLevelBooks,
                              tau: Double = 0.35): DataFrame =
    graft.operators.Dedup.softWeights(
        semanticClustersTwoLevel(embeddings, books, tau)
          .select(col("vec_id").as("doc_id"), col("cluster_id")))
      .withColumnRenamed("doc_id", "vec_id")

  /** [[knnGraphWith]] under factored books. */
  def knnGraphTwoLevel(embeddings: DataFrame, books: TwoLevelBooks,
                       k: Int = 5): DataFrame =
    knnGraphAssigned(blockPartitioned(assignTwoLevel(embeddings, books)), k)

  /** [[writeSemanticClusterIndex]] under factored books — the
    * components-at-ingest artifact for a two-level corpus: the
    * assignment pass is the only step that differs, so the persisted
    * table speaks the same cluster-index schema and every maintenance
    * op ([[semanticClusterIncremental]], [[upsertSemanticClusterIndex]],
    * the curation stream) applies unchanged — their batch passes route
    * factored automatically via [[assignUnderIndex]] when the paired
    * IVF index is two-level.
    */
  def writeSemanticClusterIndexTwoLevel(embeddings: DataFrame,
                                        books: TwoLevelBooks, table: String,
                                        tau: Double = 0.35,
                                        numBuckets: Int = 8): Unit = {
    // a full rebuild supersedes every side artifact (pending upsert
    // commit, stale-cluster ids, tombstones — see writeClusterIndex)
    graft.operators.Dedup.resetClusterIndexSides(embeddings.sparkSession, table)
    graft.sources.Sinks.writeBucketed(
      semanticClustersTwoLevel(embeddings, books, tau)
        .select(col("vec_id").as("doc_id"), col("cluster_id")),
      table, Seq("cluster_id"), numBuckets)
  }

  /** The curation-report view of [[semDedupWith]]: per-cluster vector
    * count, pruned count, and prune rate (HALF_UP integer bp, like
    * every ratio in the library) — what a corpus owner reads to pick
    * `tau` and to spot a cluster that is one templated document
    * repeated ten thousand times.
    */
  def semDedupStats(embeddings: DataFrame, cents: Array[Array[Double]],
                    tau: Double = 0.35): DataFrame =
    semDedupWith(embeddings, cents, tau)
      .groupBy("list_id")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_pruned"))
      .withColumn("prune_bp",
        expr("(2 * n_pruned * 10000 + n_vectors) div (2 * n_vectors)"))
      .orderBy("list_id")

  /** Blocked k-nearest-neighbor GRAPH over the embedding column: each
    * vector's top-k cosine neighbors WITHIN its centroid partition —
    * the standard cluster-blocked construction (the seed graph for
    * NN-Descent-style refinement, and the edge set semantic-cluster
    * consumers read). Exact within the block, approximate globally:
    * a neighbor in another cluster is unseen by design — the same
    * recall/cost dial as IVF's nProbe=1.
    *
    * Same 100 TB shape as [[semDedupWith]]: one cluster-key self-join,
    * pair volume n·(n/k), linear under k ∝ n ([[knnGraph]]); the
    * top-k is a bounded per-vector window over block pairs, never a
    * global sort.
    *
    * Output: (vec_id, nbr_id, cos_sim, rn) — rn the 1-based neighbor
    * rank (cosine DESC, nbr_id tie-break); vectors in singleton
    * clusters emit no rows.
    */
  def knnGraphWith(embeddings: DataFrame, cents: Array[Array[Double]],
                   k: Int = 5): DataFrame =
    knnGraphAssigned(blockPartitioned(assignLists(embeddings, cents)), k)

  /** [[knnGraphWith]] over the PERSISTED assignment (the same IVF
    * layout [[semDedupFromIndex]] reads): the nearest-centroid pass is
    * paid once at ingest and the block self-join rides the list
    * partitioning; tombstoned takedowns drop out via the shared live
    * view. Same output contract as the in-query form (shared oracle
    * under the same codebook).
    */
  def knnGraphFromIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, k: Int = 5): DataFrame =
    knnGraphAssigned(liveAssigned(spark, path), k)

  private def knnGraphAssigned(assigned: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = assigned.select(col("list_id"), col("vec_id"),
      col("embedding").as("va"))
    val b = assigned.select(col("list_id"), col("vec_id").as("nbr_id"),
      col("embedding").as("vb"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    a.join(b, "list_id")
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos_sim",
        round(HashExprs.cosineSim(col("va"), col("vb")), 4) + lit(0.0))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("nbr_id"), col("cos_sim"), col("rn"))
      .orderBy("vec_id", "rn")
  }

  /** [[knnGraphWith]] under a trained, corpus-sized codebook — the
    * same k = max(16, ⌈n / targetCluster⌉) linearity as [[semDedup]].
    */
  def knnGraph(embeddings: DataFrame, k: Int = 5,
               targetCluster: Int = 256): DataFrame = {
    val nc = math.max(16,
      math.ceil(embeddings.count().toDouble / targetCluster).toInt)
    knnGraphWith(embeddings, trainCodebook(embeddings, nc), k)
  }

  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(HashExprs.quantizeI8(col("embedding"))))
      .select(col("label"), col("pos"), col("col").cast("long").as("q"))
      .groupBy("label", "pos")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      .withColumn("mean_q",
        (when(col("s") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("(abs(s) * 20000 + n) div (2 * n)")).cast("double") / 10000.0)
      .select(col("label"), col("pos"), col("s"), col("n"), col("mean_q"))
      .orderBy("label", "pos")

  def embedDrift(embeddings: DataFrame): DataFrame = {
    def snap(m: Int) = embeddings.filter(pmod(col("vec_id"), lit(m)) === 0)
    def comps(df: DataFrame) = df
      .select(col("label"), posexplode(HashExprs.quantizeI8(col("embedding"))))
      .select(col("label"), col("pos"), col("col").cast("long").as("q"))
      .groupBy("label", "pos").agg(sum("q").as("s"))
    def counts(df: DataFrame, as: String) =
      df.groupBy("label").agg(count(lit(1)).as(as))
    comps(snap(2)).withColumnRenamed("s", "sa")
      .join(comps(snap(3)).withColumnRenamed("s", "sb"), Seq("label", "pos"))
      .join(broadcast(counts(snap(2), "n_old")), "label")
      .join(broadcast(counts(snap(3), "n_new")), "label")
      .groupBy("label")
      .agg(
        first("n_old").as("n_old"),
        first("n_new").as("n_new"),
        sum(abs(col("sa").cast("decimal(38,0)") * col("n_new") -
          col("sb").cast("decimal(38,0)") * col("n_old"))).as("l1x"))
      .select(col("label"), col("n_old"), col("n_new"),
        expr("CAST((l1x * 10000) div (CAST(n_old AS DECIMAL(38,0)) * n_new) AS BIGINT)")
          .as("shift_mq"))
      .orderBy("label")
  }

  /** Label-outlier (mislabel) detection: per label, the k vectors
    * FARTHEST from their label's centroid — the rows a labeling-QA
    * pass reviews first. Entirely integer-exact: int8-quantized
    * components, and the distance to the EXACT RATIONAL centroid s/n
    * is compared via the cross-multiplied form Σ(q·n − s)² in
    * decimal(38,0) — no float distance, no rounded mean, so both
    * engines rank identically down to the vec_id tie-break. The
    * centroid table is |labels|·d rows — broadcast — and the per-row
    * distance is one scan pass; top-k per label is a bounded window.
    */
  def labelOutliers(embeddings: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = embeddings
      .select(col("label"), col("vec_id"),
        posexplode(HashExprs.quantizeI8(col("embedding"))))
      .select(col("label"), col("vec_id"), col("pos"),
        col("col").cast("long").as("q"))
    val cent = q.groupBy("label", "pos")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
    val dist = q.join(broadcast(cent), Seq("label", "pos"))
      .select(col("label"), col("vec_id"),
        (expr("CAST(q * n - s AS DECIMAL(38,0))") *
          expr("CAST(q * n - s AS DECIMAL(38,0))")).as("d2"))
      .groupBy("label", "vec_id")
      .agg(sum(col("d2")).as("dist2x"))
    val w = Window.partitionBy("label")
      .orderBy(col("dist2x").desc, col("vec_id"))
    dist.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("label"), col("vec_id"),
        col("dist2x").cast("double").as("dist2x"), col("rn"))
      .orderBy("label", "rn")
  }

  /** Distributed top principal component via POWER ITERATION — PCA
    * without ever materializing the d×d gram matrix or shipping rows
    * to the driver: each iteration is one scan computing
    * w = Σᵢ xᵢ·(xᵢ·v), and the only driver state is the d-element
    * vector itself (kilobytes — the codebook contract), so the same
    * loop runs unchanged over 10¹¹ rows. Engine-exactness is by
    * PER-STEP RE-SYNC: the per-row dot is a sequential left fold
    * rounded to 6dp, each row's per-dimension contribution is rounded
    * to 6dp DECIMAL before the (order-independent, exact) sum, and the
    * normalized vector re-rounds to 6dp each iteration — both engines
    * re-lock to identical state at every rounding point, so float
    * summation order can never drift the trajectory. Uncentered (the
    * dominant direction of the raw second moment); `eigenvalue` is
    * ‖w‖ of the final step — the second-moment operator norm estimate.
    */
  def embedPcaPower(embeddings: DataFrame, iters: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // cached: the SAME projected vector column feeds every power
    // iteration (iters + 1 actions) — without it each pass re-reads
    // and re-casts the parquet; the cache is |rows|·d doubles of
    // columnar storage, the working set any iterative solver pins
    val emb = embeddings.select(col("embedding").cast("array<double>").as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      embedPcaPowerOn(emb, iters)
    } finally { emb.unpersist(); () }
  }

  private def embedPcaPowerOn(emb: DataFrame, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val d = emb.select(size(col("e"))).head().getInt(0)
    // deterministic start: the uniform unit direction, 6dp
    var v: Array[Double] = Array.fill(d)(
      BigDecimal.valueOf(1.0 / math.sqrt(d.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    var eig = 0.0
    for (_ <- 1 to iters) {
      // ONE-PASS fused step ([[graft.plans.PcaPowerStep]]): the whole
      // w = Σ x·round6(x·v) reduction in a single narrow aggregate —
      // bit-equal to the posexplode + d-group SQL form it replaced
      // (spec-pinned in HashExprsSpec, oracle-gated), but each
      // iteration now scans the cached vectors once with d decimals
      // per partition leaving the executors instead of |rows|·d
      // exploded (dim, decimal) rows through an exchange
      val w: Array[java.math.BigDecimal] = emb
        .select(graft.plans.SketchAggs.pcaPowerStep(col("e"), v).as("w"))
        .head().getSeq[java.math.BigDecimal](0).toArray
      // a null component means NO vector contributed a finite dot for
      // that dimension (degenerate corpus: wrong-length vectors,
      // non-finite values) — fail fast with the cause instead of the
      // bare NPE the double fold below would throw
      require(!w.contains(null),
        s"power-iteration step returned null components at dims " +
          s"${w.zipWithIndex.collect { case (null, i) => i }.take(8).mkString(",")}" +
          ": no vector contributed a finite dot product there (check " +
          "embedding lengths and values)")
      // norm over the d decimal components, summed in dim order (the
      // same left-to-right fold the oracle's 64-row sum performs)
      val normSq = w.foldLeft(0.0)((acc, x) => acc + x.doubleValue * x.doubleValue)
      val norm = math.sqrt(normSq)
      eig = norm
      v = w.map(x => BigDecimal.valueOf(x.doubleValue / norm)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val eigR = BigDecimal.valueOf(eig)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    v.zipWithIndex.map { case (c, i) => (i, c, eigR) }
      .toSeq.toDF("dim", "component", "eigenvalue")
      .orderBy("dim")
  }

  /** Hard-negative mining for retrieval training: for each query
    * document, the top-k embedding-nearest documents that share NO
    * word n-gram with it — semantically close but lexically disjoint,
    * exactly the negatives a contrastive ranker learns most from
    * (lexical near-copies would be false negatives). Composition of
    * the ANN scan shape with the decontamination overlap join: the
    * query batch and its gram set are both CONSTANT-size broadcasts
    * (id-capped — the ann_batch contract), the corpus side is scanned
    * once for similarities and once for grams, and only matching
    * (query, candidate) gram hits reach the anti-join.
    */
  def hardNegatives(documents: DataFrame, embeddings: DataFrame,
                    n: Int = 8, k: Int = 5, queryMod: Long = 50,
                    queryCap: Long = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isQuery = col("vec_id") % queryMod === 0 && col("vec_id") < queryCap
    val queries = embeddings.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val sims = embeddings.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 4).as("cos_sim"))
    def gramsOf(df: DataFrame) = df.select(col("doc_id"),
      explode(HashExprs.wordNgrams(
        graft.functions.TextAnalysis.normalizeWs(col("text")), n)).as("gram"))
    val grams = gramsOf(documents)
    // query docs filtered BEFORE the explode — the broadcast build side
    // never pays the full-corpus gram fan-out
    val queryGrams = gramsOf(documents
      .filter(col("doc_id") % queryMod === 0 && col("doc_id") < queryCap))
      .select(col("doc_id").as("query_id"), col("gram")).distinct()
    val overlaps = grams.join(broadcast(queryGrams), "gram")
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id").as("vec_id")).distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))
    sims.join(overlaps, Seq("query_id", "vec_id"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")
  }

  /** Recall@k of the int8-quantized retrieval against exact float
    * cosine — the table that decides whether storage-precision search
    * is good enough to ship (every vector-DB evaluation's first
    * column). Both sides run the [[batchTopK]] shape: the query batch
    * broadcasts, one corpus scan each, per-query WindowGroupLimit
    * top-k; the hit intersection is a (query, vec) equi-join of two
    * k·|queries|-row tables. Every query reports — a LEFT join from
    * the query list keeps zero-recall rows visible (the vacuity
    * guard), and recall is the HALF_UP integer bp identity. Ranking
    * ties at depth k break on vec_id in BOTH rankings (the 4dp-round +
    * vec_id convention), so the hit set is engine-deterministic.
    */
  /** DCG rank weights as BAKED 6dp integers — round(10⁶ / log₂(rank+1))
    * for ranks 1..10, literal so no engine's log() sits in the
    * cross-engine compare path (the oracle interpolates the SAME
    * constants). Shared by [[retrievalEval]] and its oracle builder.
    */
  private[graft] val dcgW6: Array[Long] = Array(
    1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)

  /** Retrieval-quality EVAL table: the exact-cosine top-k judged
    * against the label column as binary relevance — per query, the
    * in-top-k hit count, MRR, and NDCG@k (both HALF_UP integer bp).
    * This is the ranking-quality companion to [[recallReport]]'s
    * self-recall: recall@k says "did the approximate index find the
    * true neighbors"; this says "are the true neighbors actually the
    * right ANSWERS" — the table you read before shipping an embedding
    * model or a relevance threshold.
    *
    * Determinism: DCG contributions are rel × [[dcgW6]] (exact longs,
    * order-independent sums); IDCG is a prefix-sum lookup at
    * min(corpus-relevant, k) — standard NDCG, so a query whose label
    * has few corpus twins is not penalized for rows that don't exist.
    * Same scan shape as [[batchTopK]]: the corpus streams once past
    * the broadcast id-capped query batch; relevance totals are one
    * label-key hash join.
    */
  def retrievalEval(embeddings: DataFrame, queryMod: Long = 50, k: Int = 10,
                    queryCap: Long = 500): DataFrame = {
    require(k >= 1 && k <= dcgW6.length,
      s"retrievalEval: k must be in [1, ${dcgW6.length}] (baked weights)")
    import org.apache.spark.sql.expressions.Window
    val queries = embeddings
      .filter(col("vec_id") % queryMod === 0 && col("vec_id") < queryCap)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val wArr = typedLit(dcgW6.take(k).toSeq)
    // prefix(i) = sum of the first i weights; element_at is 1-based
    val pArr = typedLit(dcgW6.take(k).scanLeft(0L)(_ + _).toSeq)
    val top = embeddings.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        when(col("label") === col("qlabel"), 1L).otherwise(0L).as("rel"),
        round(cosine(col("embedding"), col("qv")), 4).as("cos_sim"),
        col("vec_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    val scored = top.groupBy("query_id").agg(
      sum(col("rel") * element_at(wArr, col("rn"))).as("dcg6"),
      min(when(col("rel") === 1L, col("rn"))).cast("long").as("first_rel"),
      sum(col("rel")).as("n_hits"))
    val tot = embeddings.select(col("vec_id"), col("label"))
      .join(broadcast(queries.select(col("query_id"), col("qlabel"))),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_rel_corpus"))
    queries.select(col("query_id"))
      .join(tot, Seq("query_id"), "left")
      .join(scored, Seq("query_id"), "left")
      .withColumn("n_rel_corpus", coalesce(col("n_rel_corpus"), lit(0L)))
      .withColumn("idcg6",
        element_at(pArr, (least(col("n_rel_corpus"), lit(k.toLong)) + 1)
          .cast("int")))
      .select(col("query_id"), lit(k.toLong).as("k"), col("n_rel_corpus"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("first_rel").isNull, 0L)
          .otherwise(expr("(2 * 10000 + first_rel) div (2 * first_rel)"))
          .as("mrr_bp"),
        when(col("idcg6") === 0L || col("dcg6").isNull, 0L)
          .otherwise(expr("(2 * dcg6 * 10000 + idcg6) div (2 * idcg6)"))
          .as("ndcg_bp"))
      .orderBy("query_id")
  }

  def recallReport(embeddings: DataFrame, queryMod: Long = 50, k: Int = 10,
                   queryCap: Long = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isQuery = col("vec_id") % queryMod === 0 && col("vec_id") < queryCap
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id"))
    def topk(scored: DataFrame) = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"))
    val exact = topk(embeddings
      .crossJoin(broadcast(embeddings.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 4).as("cos_sim")))
    val quant = embeddings.select(col("vec_id"),
      HashExprs.quantizeI8(col("embedding")).as("q8"))
    val approx = topk(quant
      .crossJoin(broadcast(quant.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("q8").as("qq8"))))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(HashExprs.cosineSimI8(col("q8"), col("qq8")), 4).as("cos_sim")))
    val hits = exact.join(approx, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    embeddings.filter(isQuery).select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .select(col("query_id"), lit(k.toLong).as("k"), col("n_hits"),
        expr(s"(2 * n_hits * 10000 + $k) div (2 * $k)").as("recall_bp"))
      .orderBy("query_id")
  }
}
