package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.streaming.StreamingRollups
import graft.sources.Tables
import graft.operators._
import graft.functions.TextAnalysis

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every `queries` entry is one operator from the survey; every entry
  * with a SQL-expressible semantics also has an `oracleSql` entry run
  * by the driver in DuckDB over the same parquet tables. Column names
  * are aligned on both sides (the compare sorts columns by name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  /** The (entity, ts, value) series used by the rollup family: orders
    * as a 7-year-per-entity time series (see SURVEY.md §3).
    */
  private def orderSeries(s: SparkSession, d: String): DataFrame =
    Rollups.series(Tables.orders(s, d), "o_custkey", "o_orderdate", "o_totalprice")

  // ---- persisted-index gate plumbing -------------------------------
  // The index artifacts are built ONCE per (session or JVM, sf dir) —
  // the "computed at ingest" half of the index lifecycle — and the
  // gate queries exercise the probe/consumer side. That way the gate
  // value-checks the at-scale shape (index reuse, not rebuild), and
  // the bench (which pre-builds every key) times the PROBE.
  // lowercased because Spark lowercases managed-table directory names;
  // a mixed-case tag would make ensureTable's stale-location cleanup
  // look for a directory that never exists on a case-sensitive FS.
  // The tag carries a DATA FINGERPRINT (max mtime + total size of the
  // dir's parquet files): a testdata regeneration mid-session changes
  // the fingerprint, so every per-(session, data) cached artifact —
  // tables, IVF/partials/cobucket builds — rebuilds instead of
  // silently serving the previous generation's index.
  private[graft] def tag(d: String): String = {
    val fp = {
      val fs = Option(new java.io.File(d).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet"))
      val m = if (fs.isEmpty) 0L else fs.map(_.lastModified()).max
      val sz = fs.map(_.length()).sum
      java.lang.Long.toHexString(m ^ java.lang.Long.rotateLeft(sz, 21))
    }
    (d.replaceAll("[^A-Za-z0-9]", "_") + "_" + fp).toLowerCase
  }

  // Every gate artifact is built through one of two guards, each with
  // its own memo scope: [[ensureTable]] (the session catalog) for the
  // artifacts that die with their session, [[ensureDir]] (a JVM memo)
  // for the tmpdir indexes. Stream-grown artifacts run their arriving
  // batch through [[streamOnce]] inside either guard.
  private val indexLock = new Object

  /** Recursive delete (no-op on a missing path) — shared by every gate
    * builder that must clear a previous JVM's leftover dirs.
    */
  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }

  private def warehouseDir(s: SparkSession): String =
    s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  /** Drop tables a previous JVM may have left, with their directories:
    * the warehouse directory survives while the in-memory catalog does
    * not, so DROP TABLE alone is a no-op and the next CREATE hits
    * LOCATION_ALREADY_EXISTS.
    */
  private def dropTableAndDir(s: SparkSession, names: String*): Unit =
    names.foreach { n =>
      s.sql(s"DROP TABLE IF EXISTS $n")
      rmTree(new java.io.File(warehouseDir(s), n))
    }

  /** Maintenance side artifacts a KILLED previous run can leave for a
    * gate table — staging tables, commit markers, swap leftovers, the
    * writer lease. Builders clear them before building (a leftover
    * lease would fail-loud a fresh build; a leftover committed staging
    * folded into a rebuilt table would be corruption) and ASSERT none
    * survive after (a stray `_compact_tmp`/`_staging` surviving a gate
    * build would mask the crash-window specs).
    */
  private def sideTables(name: String): Seq[String] =
    Seq("_staged_append", "_compact_tmp", "_compact_old").map(name + _)

  /** The side artifacts that are bare directories, never tables. */
  private def sideDirs(name: String): Seq[String] =
    Seq("_staged_commit", "_staged_commit.tmp", "_upsert_staging",
      "_upsert_staging.tmp", "_writer_lease").map(name + _)

  private def strayArtifacts(s: SparkSession, name: String): Seq[String] = {
    val tables = sideTables(name).filter(s.catalog.tableExists)
    val dirs = (sideDirs(name) ++ sideTables(name))
      .filter(n => new java.io.File(warehouseDir(s), n).exists())
    (tables ++ dirs).distinct
  }

  private def resetTableArtifacts(s: SparkSession, name: String): Unit = {
    dropTableAndDir(s, sideTables(name): _*)
    sideDirs(name).foreach(n => rmTree(new java.io.File(warehouseDir(s), n)))
  }

  /** Guard (1): build a SESSION-scoped artifact — a managed table, a
    * memory-sink stream view, a curation table — once per session; the
    * session catalog is the memo.
    */
  // The session catalog, not a per-JVM memo: these artifacts die with
  // the session, so any fresh session in the same JVM must rebuild
  // them — a JVM-wide memo made such a re-run fail
  // TABLE_OR_VIEW_NOT_FOUND (the r16 session_stream error).
  private def ensureTable(s: SparkSession, name: String)(build: => Unit): String =
    indexLock.synchronized {
      if (!s.catalog.tableExists(name)) {
        // a stale managed-table location (killed run) blocks CREATE
        rmTree(new java.io.File(warehouseDir(s), name))
        resetTableArtifacts(s, name)
        build
        val strays = strayArtifacts(s, name)
        require(strays.isEmpty,
          s"gate build for $name left stray maintenance artifacts: " +
            strays.mkString(", "))
      }
      name
    }

  private def tmpDir(name: String): String =
    new java.io.File(sys.props("java.io.tmpdir"), name).toString

  /** Guard (2): build a tmpdir index (`java.io.tmpdir/name`) once per
    * JVM, handing `build` its path. The directory is cleared before
    * every build: the index writers overwrite only the subdirectories
    * they write, so a killed JVM's others (tombstones,
    * `applied_batches`, …) would otherwise survive into the fresh
    * index — a stale (streamId, 0) mark silently no-ops a stream
    * append. Only a build that returns is memoized.
    */
  // built-once tracking is PER JVM (like the catalog check the table
  // indexes use): a bare _SUCCESS probe would reuse a stale tmpdir
  // index across sessions after the fixtures (or the index writer's
  // defaults) changed, silently probing old vectors
  private val builtDirs = scala.collection.mutable.Set.empty[String]
  private def ensureDir(name: String)(build: String => Unit): String =
    indexLock.synchronized {
      val path = tmpDir(name)
      if (!builtDirs(path)) {
        rmTree(new java.io.File(path))
        build(path)
        builtDirs += path
      }
      path
    }

  private def minhashIdx(s: SparkSession, d: String): String = {
    val t = s"g_gate_minhash_${tag(d)}"
    ensureTable(s, t)(Dedup.writeMinhashIndex(Tables.documents(s, d), t))
  }

  private def clusterIdx(s: SparkSession, d: String): String = {
    val t = s"g_gate_cluster_${tag(d)}"
    ensureTable(s, t)(Dedup.writeClusterIndex(Tables.documents(s, d), t))
  }

  private def containmentIdx(s: SparkSession, d: String): String = {
    val t = s"g_gate_containment_${tag(d)}"
    ensureTable(s, t)(Dedup.writeContainmentIndex(Tables.documents(s, d), t))
  }

  private def bm25Idx(s: SparkSession, d: String): String = {
    val t = s"g_gate_bm25_${tag(d)}"
    ensureTable(s, t)(Corpus.writeBm25Index(Tables.documents(s, d), t))
  }

  private def barsTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_bars_${tag(d)}"
    ensureTable(s, t)(Finance.writeBarsTable(Tables.events(s, d), t))
  }

  private def ohlcBarsTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_ohlc_bars_${tag(d)}"
    ensureTable(s, t)(Finance.writeOhlcBarsTable(Tables.events(s, d), t))
  }

  /** Co-bucketed fact pair: orders and lineitem both bucketed on the
    * join key at ingest, so every later orderkey join/aggregate plans
    * ZERO exchanges (the 100 TB answer for a fact⋈fact key joined
    * repeatedly — shuffling terabytes per query vs once at write).
    */
  private def cobucketTables(s: SparkSession, d: String): (String, String) = {
    val to = s"g_gate_orders_bkt_${tag(d)}"
    val tl = s"g_gate_lineitem_bkt_${tag(d)}"
    ensureTable(s, to)(graft.sources.Sinks.writeBucketed(
      Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
      to, Seq("o_orderkey"), 8))
    ensureTable(s, tl)(graft.sources.Sinks.writeBucketed(
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"),
      tl, Seq("l_orderkey"), 8))
    (to, tl)
  }

  /** The co-bucketed join's consumer — per-order item count + revenue
    * (decimal-exact), shared by the gate query and the zero-exchange
    * plan spec.
    */
  def cobucketedRevenue(s: SparkSession, d: String): DataFrame = {
    val (to, tl) = cobucketTables(s, d)
    val price = col("l_extendedprice").cast("decimal(12,2)")
    val disc = col("l_discount").cast("decimal(4,2)")
    val one = lit(1).cast("decimal(4,2)")
    s.table(to).join(s.table(tl), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_items"),
        round(sum(price * (one - disc).cast("decimal(4,2)")), 2)
          .cast("double").as("revenue"))
      .orderBy("o_orderkey")
  }

  /** Fixed tokenizer for the `bpe_encode` gate — the gate verifies the
    * ENCODER's application convention (chained merges, multi-level
    * tokens, word isolation), so the merge list is a pinned artifact,
    * not a training output: merge chains that assemble whole corpus
    * words (table, scan) next to partial ones (que+ry), plus merges
    * whose parts collide as prefixes/suffixes of other merges. The
    * DuckDB oracle replays the SAME list as a chain of string
    * replacements over a delimiter-wrapped symbol representation
    * (see [[bpeOracleSql]]) — convention-exact on both engines.
    */
  private val bpeGateMerges: Seq[(String, String)] = Seq(
    "t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e",
    "s" -> "c", "sc" -> "a", "sca" -> "n",
    "q" -> "u", "qu" -> "e", "r" -> "y",
    "o" -> "w", "i" -> "n")

  /** The DuckDB replay of [[bpeGateMerges]]: each word character is
    * wrapped as US||c||US (US = chr(31), absent from the corpus), so a
    * merge (l, r) is one non-overlapping left-to-right
    * `replace(US||l||US || US||r||US -> US||lr||US)` — the same
    * single-sweep convention as the compiled encoder; the doubled
    * delimiter between symbols keeps consecutive matches independent
    * (with a SHARED delimiter, 'a a a a' would merge only once — the
    * match would consume the next pair's leading separator).
    */
  /** One merge of the chain = one non-overlapping replace; shared by
    * the encode oracle and the BPE pack oracle so both replay the
    * same [[bpeGateMerges]].
    */
  private def bpeReplaceChain(inner: String): String =
    bpeGateMerges.foldLeft(inner) { case (acc, (l, r)) =>
      s"replace($acc, chr(31)||'$l'||chr(31)||chr(31)||'$r'||chr(31), chr(31)||'$l$r'||chr(31))"
    }

  private def bpeOracleSql: String =
    s"""WITH nt AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM documents),
       |rep AS (SELECT doc_id, regexp_replace(t, '([^ ])', chr(31)||'\\1'||chr(31), 'g') AS r FROM nt),
       |m AS (SELECT doc_id, ${bpeReplaceChain("r")} AS r2 FROM rep)
       |SELECT doc_id,
       |  trim(regexp_replace(replace(r2, chr(31), ' '), ' +', ' ', 'g')) AS encoded,
       |  ((len(r2) - len(replace(r2, chr(31), ''))) // 2)::BIGINT AS n_tokens
       |FROM m ORDER BY doc_id""".stripMargin

  /** pack_sequences' oracle under the BPE token count: the same
    * nested-replace token derivation as [[bpeOracleSql]] feeding the
    * same sharded pack window as the whitespace pack oracle.
    */
  private def bpePackOracleSql: String = {
    val hv = (0 until 8).map { i =>
      val mult = 1L << (4 * (7 - i))
      s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
    }.mkString(" +\n")
    s"""WITH nt AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM documents),
       |rep AS (SELECT doc_id, lang, hx, regexp_replace(t, '([^ ])', chr(31)||'\\1'||chr(31), 'g') AS r FROM nt),
       |m AS (SELECT doc_id, lang, hx, ${bpeReplaceChain("r")} AS r2 FROM rep),
       |tok AS (SELECT doc_id, lang, CAST(($hv) % 100 AS INTEGER) AS shard,
       |  ((len(r2) - len(replace(r2, chr(31), ''))) // 2)::BIGINT AS n_tokens FROM m),
       |o AS (SELECT doc_id, lang, shard, n_tokens,
       |CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset FROM tok)
       |SELECT doc_id, lang, shard, n_tokens, token_offset,
       |token_offset // 512 AS seq_first,
       |(token_offset + greatest(n_tokens, 1) - 1) // 512 AS seq_last
       |FROM o ORDER BY doc_id""".stripMargin
  }

  /** Deterministic status table for the lifecycle gates: every third
    * document "loaded", the next third "transformed", the rest absent
    * (implicitly "new") — a pure function of doc_id so the DuckDB
    * oracle rebuilds the identical table.
    */
  private def gateStatus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, lit("loaded"))
          .when(col("doc_id") % 3 === 1, lit("transformed")).as("status"))
      .filter(col("status").isNotNull)

  // catalog table like every other persisted index twin: the catalog
  // owns the partition inventory, so probes skip the per-query
  // directory walk + schema inference a bare tmpdir path pays
  private def partialsTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_partials_${tag(d)}"
    ensureTable(s, t)(Rollups.writeDailyPartialsTable(orderSeries(s, d), t))
  }

  private def hllSketchTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_hllsk_${tag(d)}"
    ensureTable(s, t)(Analytics.writeUserSketchRollup(Tables.events(s, d), t))
  }

  private def activityTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_activity_${tag(d)}"
    ensureTable(s, t)(Analytics.writeActivityRollup(Tables.events(s, d), t))
  }

  private def histTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_hist_${tag(d)}"
    ensureTable(s, t)(Analytics.writeValueHistogramRollup(Tables.orders(s, d), t))
  }

  // The embed-LSH oracles hard-code the historical 16-plane, 4×4-bit
  // band geometry, while the OPERATOR sizes band width from the corpus
  // (ceil(log₂(n/128)) clamped [4,16] — the round-11 scaling fix). The
  // two agree exactly while the gate corpus stays in the w = 4 domain
  // (n ≤ 2048 vectors); past it the gate would fail on GEOMETRY drift,
  // not a real bug. This assertion (memoized per data dir — one
  // count() per JVM) turns that silent hash mismatch into a fail-fast
  // error naming the fix: regenerate the oracles at the new width.
  // SCOPED TO THE ORACLE GATE (graft.Verify sets graft.oracle.gate):
  // bench and scaling-audit sessions legitimately run these keys at
  // 10×/30× corpora where the operator's scaled width is exactly the
  // point — only a run that will be DuckDB-compared must be pinned
  // to the oracles' geometry domain (the round-12 audit caught the
  // unscoped version erroring the embed keys at audit scale).
  private val embedGeomChecked = scala.collection.mutable.Set.empty[String]
  private def assertEmbedOracleGeometry(s: SparkSession, d: String): Unit =
    indexLock.synchronized {
      if (sys.props.get("graft.oracle.gate").contains("true") &&
          !embedGeomChecked.contains(d)) {
        val n = Tables.embeddings(s, d).count()
        val w = Dedup.embedBandWidth(n, targetBucket = 128)
        require(w == 4,
          s"embed gate corpus at $d has $n vectors -> band width $w, but the " +
            "DuckDB oracles are generated at the historical w = 4 geometry " +
            "(n <= 2048); regenerate embedNearDupOracle/embedNearDupIncrOracle " +
            "from signBitExprs(4 * w, 64) to match")
        embedGeomChecked += d
      }
    }

  private def embedBandIndexTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_embed_band_${tag(d)}"
    ensureTable(s, t)(Dedup.writeEmbedBandIndex(Tables.embeddings(s, d), t))
  }

  private def mediaPhashIndexTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_media_phash_${tag(d)}"
    ensureTable(s, t)(Multimodal.writeMediaPhashIndex(
      Multimodal.gateMedia(Tables.documents(s, d)), t))
  }

  /** Corpus-minus-batch phash index — the media residue split for the
    * incremental gate. */
  private def mediaPhashIncrIndexTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_media_incr_${tag(d)}"
    ensureTable(s, t)(Multimodal.writeMediaPhashIndex(
      Multimodal.gateMedia(Tables.documents(s, d))
        .filter(col("media_id") % 13 =!= 0), t))
  }

  /** The text incremental gates' document set: the corpus PLUS a
    * handful of derived batch twins, so the gates exercise real
    * cross-residue matches instead of whatever near-dups the generator
    * happened to place across the mod-13 split (round 11 gated on one
    * row each). Seeds are corpus docs with doc_id % 13 ≠ 0 and
    * doc_id % 101 = 7 (5 docs at the sf0.01 gate scale); each twin
    * re-ingests the seed's text under id 13·(10⁶ + doc_id) — ≡ 0
    * (mod 13) so it lands in the arriving batch, far above every real
    * id, and found against its indexed seed at jaccard/containment
    * exactly 1.0 (identical text → identical signature, so LSH recall
    * is certain, and the score is the same literal double in both
    * engines). The corpus-minus-batch INDEXES are untouched — twins
    * exist only on the batch side, exactly like a re-crawl.
    */
  private def incrGateDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.unionByName(
      docs.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 101 === 7)
        .withColumn("doc_id", lit(13L) * (lit(1000000L) + col("doc_id"))))
  }

  /** Corpus-minus-batch minhash index for the incremental-ingest gate:
    * the "existing corpus" is every doc_id not ≡ 0 (mod 13); the held
    * out residue class plays the arriving batch.
    */
  private def minhashIncrIndexTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_minhash_incr_${tag(d)}"
    ensureTable(s, t)(Dedup.writeMinhashIndex(
      Tables.documents(s, d).filter(col("doc_id") % 13 =!= 0), t))
  }

  /** Corpus-minus-batch CLUSTER assignment index — the residue split's
    * persisted components, the artifact `dedup_cluster_incremental`
    * maintains (merge the arriving batch in, never corpus-wide LSH).
    */
  private def clusterIncrIndexTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_cluster_incr_${tag(d)}"
    ensureTable(s, t)(Dedup.writeClusterIndex(
      Tables.documents(s, d).filter(col("doc_id") % 13 =!= 0), t))
  }

  /** Clear an upsert gate's `_stale_clusters` side table left by a
    * previous JVM ([[dropTableAndDir]]). Called inside an
    * [[ensureTable]] build, which has already reset the table's other
    * maintenance side artifacts.
    */
  private def clearStaleSide(s: SparkSession, t: String): Unit = {
    dropTableAndDir(s, Dedup.staleClusterTable(t))
    // a previous JVM's crashed upsert may have left a committed staging
    // dir — folding it into a freshly rebuilt table would be corruption
    Dedup.clearUpsertStaging(s, t)
  }

  /** Cluster index for the UPSERT gate: built over the corpus residue,
    * then the batch twins MERGED IN PLACE via
    * [[Dedup.upsertClusterIndex]] — the batch-sized persist path
    * (stale-mark superseded clusters + append relabeled/batch rows),
    * never a corpus rebuild. Both steps run under one ensureTable
    * guard, so the table always carries the post-upsert state the
    * gate's stats read.
    */
  private def clusterUpsertIndexTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_cluster_upsert_${tag(d)}"
    ensureTable(s, t) {
      clearStaleSide(s, t)
      val docs = incrGateDocs(s, d)
      Dedup.writeClusterIndex(docs.filter(col("doc_id") % 13 =!= 0), t)
      Dedup.upsertClusterIndex(s, minhashIncrIndexTable(s, d), t,
        docs.filter(col("doc_id") % 13 === 0),
        docs.filter(col("doc_id") % 13 =!= 0))
    }
  }

  /** Corpus-minus-batch containment token index — the same residue
    * split for the exact-SSJoin incremental gate. */
  private def containIncrIndexTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_contain_incr_${tag(d)}"
    ensureTable(s, t)(Dedup.writeContainmentIndex(
      Tables.documents(s, d).filter(col("doc_id") % 13 =!= 0), t))
  }

  /** Corpus-minus-batch embed band index — the same residue split for
    * the embedding incremental gate. */
  private def embedIncrIndexTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_embed_incr_${tag(d)}"
    ensureTable(s, t)(Dedup.writeEmbedBandIndex(
      Tables.embeddings(s, d).filter(col("vec_id") % 13 =!= 0), t))
  }

  /** Feed a frame into a MemoryStream in CHUNKED addData calls via
    * toLocalIterator — the gate-harness replay holds one chunk on the
    * driver at a time instead of collecting the whole table (the
    * harness cost must stay O(chunk) memory at audit scale, so a 10×
    * streaming-gate audit row measures the operator, not the replay).
    * All chunks are added before the single Trigger.Once start, so the
    * query still sees ONE micro-batch with the same rows — gate
    * semantics and oracles unchanged.
    */
  private def feedStream[T](
      in: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T],
      ds: Dataset[T], chunk: Int = 65536): Unit = {
    val it = ds.toLocalIterator()
    val buf = new scala.collection.mutable.ArrayBuffer[T](chunk)
    while (it.hasNext) {
      buf += it.next()
      if (buf.size >= chunk) { in.addData(buf.toSeq: _*); buf.clear() }
    }
    if (buf.nonEmpty) in.addData(buf.toSeq: _*)
  }

  /** Run the arriving `batch` through a streaming stage as ONE
    * micro-batch: feed it into a MemoryStream ([[feedStream]]), hand
    * `start` the stream and a fresh checkpoint dir, then run the writer
    * it returns under Trigger.Once. A timed-out build must fail fast
    * (naming the artifact), NOT let its guard memoize a half-built
    * artifact that every dependent gate then diffs against.
    */
  private def streamOnce[T](s: SparkSession, name: String, batch: Dataset[T])(
      start: (Dataset[T], String) => DataStreamWriter[_]): Unit = {
    implicit val enc: org.apache.spark.sql.Encoder[T] = batch.encoder
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
    feedStream(in, batch)
    val ck = java.nio.file.Files.createTempDirectory("graft_gate_ck").toString
    val q = start(in.toDS(), ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
    require(q.awaitTermination(120000), s"stream gate build timed out: $name")
  }

  /** The arriving vector batch (vec_id ≡ 0 mod 13) of the incremental
    * vector gates, typed for [[streamOnce]].
    */
  private def vecBatch(s: SparkSession, d: String): Dataset[(Long, Array[Float])] = {
    import s.implicits._
    Tables.embeddings(s, d).filter(col("vec_id") % 13 === 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
  }

  /** The arriving text batch (doc_id ≡ 0 mod 13) of `docs` — the
    * arriving-documents side of the text stream gates.
    */
  private def docBatch(s: SparkSession, docs: DataFrame): Dataset[(Long, String)] = {
    import s.implicits._
    docs.filter(col("doc_id") % 13 === 0).select("doc_id", "text").as[(Long, String)]
  }

  private def ivfIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_ivf_${tag(d)}")(
      Similarity.writeIvfIndex(Tables.embeddings(s, d), _))

  /** STREAM-INGESTED IVF index: the residue-trained index grown by the
    * arriving vector batch through the PATH-BASED streaming stage
    * ([[graft.streaming.StreamingRollups.ivfAppendStream]] —
    * foreachBatch → appendToIvfIndex under `applied_batches`-dir
    * idempotence). The exact-guarantee probe stays exact over the
    * stream-grown lists (radii over live rows), so it shares
    * `ann_ivf_incremental`'s brute-force-over-the-union oracle.
    * [[ensureDir]] clears a previous JVM's `applied_batches` dir before
    * the rebuild — a stale (streamId, 0) mark would silently no-op the
    * append and drop the batch from the index.
    */
  private def ivfStreamIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_ivf_stream_${tag(d)}") { path =>
      import s.implicits._
      val vecs = Tables.embeddings(s, d)
      Similarity.writeIvfIndex(vecs.filter(col("vec_id") % 13 =!= 0), path)
      streamOnce(s, path, vecs.filter(col("vec_id") % 13 === 0)
          .select("vec_id", "embedding", "label")
          .as[(Long, Array[Float], Int)]) { (in, ck) =>
        StreamingRollups.ivfAppendStream(
          in.toDF("vec_id", "embedding", "label"), path, ck,
          streamId = Some("gate-ivf-stream"))
      }
    }

  /** Persisted SEMANTIC assignment (IVF layout under the SQL-replayable
    * corpus-sized head codebook): the ingest-time artifact behind
    * `semdedup_indexed` — and, in residue form ([[semIncrIdx]]),
    * behind the incremental admission gate.
    */
  private def semIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_sem_ivf_${tag(d)}") { path =>
      val vecs = Tables.embeddings(s, d)
      Similarity.writeIvfIndexWith(vecs, path,
        Similarity.headCodebookSized(vecs))
    }

  private def semIncrIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_sem_incr_${tag(d)}") { path =>
      val residue = Tables.embeddings(s, d).filter(col("vec_id") % 13 =!= 0)
      Similarity.writeIvfIndexWith(residue, path,
        Similarity.headCodebookSized(residue))
    }

  /** Persisted SEMANTIC COMPONENTS assignment (the cluster-index
    * lifecycle on embedding space) — behind the semantic stats/weights
    * indexed twins.
    */
  private def semClusterIdx(s: SparkSession, d: String): String = {
    val t = s"g_gate_sem_cluster_${tag(d)}"
    ensureTable(s, t) {
      val vecs = Tables.embeddings(s, d)
      Similarity.writeSemanticClusterIndex(vecs,
        Similarity.headCodebookSized(vecs), t)
    }
  }

  /** Semantic components index for the UPSERT gate: components built
    * over the residue (vec_id ≢ 0 mod 13) under the residue-sized head
    * codebook, then the batch MERGED IN PLACE via
    * [[Similarity.upsertSemanticClusterIndex]] — the batch-sized
    * persist path (stale-mark superseded components + bucket-preserving
    * re-append), never a corpus rebuild. Edge generation reads the
    * residue IVF index ([[semIncrIdx]] — the same stored codebook the
    * oracle replays). Both steps run under the caller's ensureTable
    * guard.
    */
  private def semUpsertInto(s: SparkSession, d: String, t: String): Unit = {
    clearStaleSide(s, t)
    val vecs = Tables.embeddings(s, d)
    val residue = vecs.filter(col("vec_id") % 13 =!= 0)
    Similarity.writeSemanticClusterIndex(residue,
      Similarity.headCodebookSized(residue), t)
    Similarity.upsertSemanticClusterIndex(s, semIncrIdx(s, d), t,
      vecs.filter(col("vec_id") % 13 === 0))
  }

  private def semClusterUpsertTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_sem_upsert_${tag(d)}"
    ensureTable(s, t)(semUpsertInto(s, d, t))
  }

  /** The cluster-index COMPACTION gate's artifact: the semantic upsert
    * table rebuilt independently ([[semUpsertInto]] on its own name),
    * then [[Dedup.compactClusterIndex]] folds BOTH side tables (doc
    * tombstones absent here; the upsert's stale cluster ids present
    * and non-empty, asserted) into fresh bucketed files. Live rows
    * must be IDENTICAL before and after, so the key shares the upsert
    * gate's full-rebuild oracle — probe-after-compact ≡ probe-before,
    * the third compact mechanism oracle-gated.
    */
  private def semClusterUpsertCompactTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_sem_upsc_${tag(d)}"
    ensureTable(s, t) {
      semUpsertInto(s, d, t)
      require(s.catalog.tableExists(Dedup.staleClusterTable(t)),
        "cluster compaction gate: the upsert superseded nothing — " +
          "the stale-fold path would be vacuous")
      val before = tableDataFiles(s, t)
      Dedup.compactClusterIndex(s, t)
      require(!s.catalog.tableExists(Dedup.staleClusterTable(t)),
        "cluster compaction gate: stale side table survived the compact")
      val after = tableDataFiles(s, t)
      require(after.nonEmpty && after != before,
        "cluster compaction gate: data files unchanged — compact did not rewrite")
    }
  }

  /** ADMISSION-GATED stream-ingested semantic index: the residue index
    * grown by ONE micro-batch through
    * [[graft.streaming.StreamingRollups.semanticAdmissionStream]] —
    * only the batch vectors with NO same-list corpus neighbor within τ
    * are appended, so the finished index holds residue ∪ admitted.
    * The gate probes per-list live counts ([[Similarity.ivfListSizes]]);
    * the oracle recomputes the admission rule and the counts in SQL.
    */
  private def semAdmitIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_sem_admit_${tag(d)}") { path =>
      val residue = Tables.embeddings(s, d).filter(col("vec_id") % 13 =!= 0)
      Similarity.writeIvfIndexWith(residue, path,
        Similarity.headCodebookSized(residue))
      streamOnce(s, path, vecBatch(s, d)) { (in, ck) =>
        StreamingRollups.semanticAdmissionStream(
          in.toDF("vec_id", "embedding"), path, ck,
          streamId = Some("gate-sem-admit"))
      }
    }

  /** Persisted TWO-LEVEL IVF index (coarse ⋈ fine codebook, flat
    * list_id layout) — the factored-assignment escape from the flat
    * n·k·d ceiling; probed by the SAME exact-guarantee machinery as
    * the flat index, so its oracle is plain brute force.
    */
  private def ivfTwoLevelIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_ivf2_${tag(d)}")(
      Similarity.writeTwoLevelIvfIndex(Tables.embeddings(s, d), _))

  /** Residue-built two-level index grown by the batch through the
    * FACTORED append ([[Similarity.appendToTwoLevelIvfIndex]] — coarse
    * route, then the cell's ragged book, batch·2√k·d) — the two-level
    * family's check→extend loop.
    */
  private def ivfTwoLevelIncrIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_ivf2_incr_${tag(d)}") { path =>
      val vecs = Tables.embeddings(s, d)
      Similarity.writeTwoLevelIvfIndex(
        vecs.filter(col("vec_id") % 13 =!= 0), path)
      Similarity.appendToTwoLevelIvfIndex(s, path,
        vecs.filter(col("vec_id") % 13 === 0))
    }

  /** Two-level index drifted (factored batch append) → takedown →
    * RETRAINED TWO-LEVEL over live rows (grid resized to the live
    * count) — the factored twin of [[ivfRetrainIdx]]: a two-level
    * index must never retrain flat, or every future append silently
    * pays n·k·d again.
    */
  private def ivfTwoLevelRetrainIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_ivf2_retrain_${tag(d)}") { path =>
      val vecs = Tables.embeddings(s, d)
      Similarity.writeTwoLevelIvfIndex(
        vecs.filter(col("vec_id") % 13 =!= 0), path)
      Similarity.appendToTwoLevelIvfIndex(s, path,
        vecs.filter(col("vec_id") % 13 === 0))
      Similarity.deleteFromIvfIndex(s, path,
        vecs.filter(col("vec_id") % 97 === 3).select("vec_id"))
      Similarity.retrainTwoLevelIvfIndex(s, path)
    }

  /** STREAM-grown two-level index: residue built batch-side, the
    * arriving vector batch appended through the FACTORED streaming
    * stage ([[graft.streaming.StreamingRollups.ivfTwoLevelAppendStream]]).
    */
  private def ivfTwoLevelStreamIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_ivf2_stream_${tag(d)}") { path =>
      Similarity.writeTwoLevelIvfIndex(
        Tables.embeddings(s, d).filter(col("vec_id") % 13 =!= 0), path)
      streamOnce(s, path, vecBatch(s, d)) { (in, ck) =>
        StreamingRollups.ivfTwoLevelAppendStream(
          in.toDF("vec_id", "embedding"), path, ck,
          streamId = Some("gate-ivf2-stream"))
      }
    }

  /** The CURATION loop gate artifacts: a residue semantic index at
    * `java.io.tmpdir/graft_gate_<name>_<tag>` + a residue components
    * table `g_gate_<name>_<tag>`, both written by `writeIndexes`
    * (residue, index path, table), then ONE micro-batch run through
    * [[graft.streaming.StreamingRollups.semanticCurationStream]] —
    * admission check, index append of the novel vectors, component
    * merge of the admitted set — under one replay guard. Returns the
    * components table name (the probe reads its live histogram).
    * Guarded on the session catalog: the components table dies with
    * the session, so any fresh session must rebuild, not skip.
    */
  private def semCurationLoop(s: SparkSession, d: String, name: String)(
      writeIndexes: (DataFrame, String, String) => Unit): String = {
    val t = s"g_gate_${name}_${tag(d)}"
    ensureTable(s, t) {
      val path = tmpDir(s"graft_gate_${name}_${tag(d)}")
      rmTree(new java.io.File(path))
      // the stale side AND the inner merge guard's applied-batch side
      // table may both survive a previous JVM as warehouse dirs
      dropTableAndDir(s, graft.sources.IndexMaintenance.appliedBatchTable(t))
      clearStaleSide(s, t)
      writeIndexes(Tables.embeddings(s, d).filter(col("vec_id") % 13 =!= 0), path, t)
      streamOnce(s, t, vecBatch(s, d)) { (in, ck) =>
        StreamingRollups.semanticCurationStream(
          in.toDF("vec_id", "embedding"), path, t, ck,
          streamId = Some(s"gate-${name.replace('_', '-')}"))
      }
    }
  }

  /** The flat curation loop: residue index and components under the
    * residue-sized head codebook.
    */
  private def semCurationTables(s: SparkSession, d: String): String =
    semCurationLoop(s, d, "sem_curation") { (residue, path, t) =>
      val cents = Similarity.headCodebookSized(residue)
      Similarity.writeIvfIndexWith(residue, path, cents)
      Similarity.writeSemanticClusterIndex(residue, cents, t)
    }

  /** The FACTORED curation loop: the same admit → append → merge stage
    * (no code change) pointed at a TWO-LEVEL residue index
    * ([[Similarity.writeTwoLevelIvfIndexWith]] under the SQL-replayable
    * head books) + a residue components table built over the same
    * factored assignment — every batch pass in the loop routes
    * batch·2√k·d through [[Similarity.assignUnderIndex]].
    */
  private def semCurationTwoLevelTables(s: SparkSession, d: String): String =
    semCurationLoop(s, d, "sem_cur2") { (residue, path, t) =>
      val books = Similarity.headTwoLevelBooks(residue)
      Similarity.writeTwoLevelIvfIndexWith(residue, path, books)
      Similarity.writeSemanticClusterIndexTwoLevel(residue, books, t)
    }

  /** COMPACTED IVF index — the PATH-based compaction mechanism
    * ([[graft.sources.IndexMaintenance.compactAt]]: live rows rewritten
    * to a sibling tmp dir in the list-partitioned layout, one dir swap,
    * tombstones dropped) gated like its table-based twin
    * ([[minhashCompactIdx]]): build over the corpus, tombstone the
    * vec_id ≡ 3 (mod 97) takedown slice, fold, assert the rewrite
    * physically happened, then the SAME exact-guarantee probe — its
    * bounds hold over any live-row layout, so brute force over the
    * surviving vectors is the oracle.
    */
  private def ivfCompactIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_ivf_compact_${tag(d)}") { path =>
      val vecs = Tables.embeddings(s, d)
      Similarity.writeIvfIndex(vecs, path)
      Similarity.deleteFromIvfIndex(s, path,
        vecs.filter(col("vec_id") % 97 === 3).select("vec_id"))
      def files(sub: String): Set[String] = {
        val dir = new java.io.File(path, sub)
        Option(dir.listFiles()).map(_.flatMap { f =>
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
            .filter(_.isFile).map(g => f.getName + "/" + g.getName)
          else Array(f.getName)
        }.toSet).getOrElse(Set.empty[String])
      }
      require(new java.io.File(path, "tombstones").exists(),
        "IVF compaction gate: no tombstones to fold — gate would be vacuous")
      val before = files("assigned")
      Similarity.compactIvfIndex(s, path)
      require(!new java.io.File(path, "tombstones").exists(),
        "IVF compaction gate: tombstones dir survived the compact")
      val after = files("assigned")
      require(after.nonEmpty && after != before,
        "IVF compaction gate: assigned files unchanged — compact did not rewrite")
    }

  /** TOMBSTONED-BUT-NOT-COMPACTED twin tables/dirs for the maintenance
    * ADVISOR gates: the report must read real deferred debt (takedowns
    * pending compaction), so these builders stop exactly where the
    * compaction builders continue.
    */
  private def clusterMaintTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_cluster_maint_${tag(d)}"
    ensureTable(s, t) {
      val docs = Tables.documents(s, d)
      Dedup.writeClusterIndex(docs, t)
      Dedup.deleteFromClusterIndex(s, t,
        docs.filter(col("doc_id") % 97 === 3).select("doc_id"))
    }
  }

  private def ivfMaintIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_ivf_maint_${tag(d)}") { path =>
      val vecs = Tables.embeddings(s, d)
      Similarity.writeIvfIndex(vecs, path)
      Similarity.deleteFromIvfIndex(s, path,
        vecs.filter(col("vec_id") % 97 === 3).select("vec_id"))
    }

  /** Data files of a managed table's warehouse dir (committed parquet
    * parts only) — the compaction gate's did-it-actually-rewrite
    * evidence. */
  private def tableDataFiles(s: SparkSession, t: String): Set[String] =
    Option(new java.io.File(warehouseDir(s), t).listFiles())
      .map(_.filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.getName).toSet)
      .getOrElse(Set.empty[String])

  /** COMPACTED minhash index: build over the corpus, tombstone the
    * doc_id ≡ 3 (mod 97) takedown slice, then FOLD the tombstones into
    * fresh bucketed files ([[Dedup.compactMinhashIndex]]). The builder
    * asserts compaction physically ran — tombstones existed before,
    * the side table is gone after, and the data-file set was rewritten
    * — so the gate's probe genuinely reads a compacted index, against
    * the SAME exact-pairs oracle as the uncompacted probe minus the
    * deleted docs.
    */
  private def minhashCompactIdx(s: SparkSession, d: String): String = {
    val t = s"g_gate_minhash_compact_${tag(d)}"
    val tomb = graft.sources.IndexMaintenance.tombstoneTable(t)
    ensureTable(s, t) {
      dropTableAndDir(s, tomb)
      Dedup.writeMinhashIndex(Tables.documents(s, d), t)
      Dedup.deleteFromMinhashIndex(s, t,
        Tables.documents(s, d).filter(col("doc_id") % 97 === 3)
          .select("doc_id"))
      require(s.catalog.tableExists(tomb),
        "compaction gate: no tombstones to fold — the gate would be vacuous")
      val before = tableDataFiles(s, t)
      Dedup.compactMinhashIndex(s, t)
      require(!s.catalog.tableExists(tomb),
        "compaction gate: tombstone table survived the compact")
      val after = tableDataFiles(s, t)
      require(after.nonEmpty && after != before,
        "compaction gate: data files unchanged — compact did not rewrite")
    }
  }

  /** AGED IVF index for the incremental gate: trained on the
    * corpus-minus-batch residue, then the batch APPENDED under the
    * aged codebook ([[Similarity.appendToIvfIndex]]) — the index state
    * a recurring ingest pipeline actually probes. [[ensureDir]] clears
    * any previous generation's directory first, so the append never
    * double-lands across JVMs.
    */
  private def ivfIncrIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_ivf_incr_${tag(d)}") { path =>
      val vecs = Tables.embeddings(s, d)
      Similarity.writeIvfIndex(vecs.filter(col("vec_id") % 13 =!= 0), path)
      Similarity.appendToIvfIndex(s, path, vecs.filter(col("vec_id") % 13 === 0))
    }

  /** Shared plumbing for every STREAM-INGESTED index gate: clear the
    * batch-id side table left by a previous JVM (warehouse dir
    * survives, the in-memory catalog does not), build the residue
    * index, then run the arriving `batch` as ONE micro-batch through
    * the family's streaming append stage ([[streamOnce]]). The finished
    * index must be indistinguishable (at probe level) from building
    * over the whole corpus at once, so each gate probe shares its
    * batch-built twin's oracle verbatim.
    */
  private def streamIngestTable[T](s: SparkSession, t: String, batch: => Dataset[T])(
      buildResidue: => Unit)(
      start: (Dataset[T], String) => DataStreamWriter[_]): String =
    ensureTable(s, t) {
      dropTableAndDir(s, graft.sources.IndexMaintenance.appliedBatchTable(t))
      buildResidue
      streamOnce(s, t, batch)(start)
    }

  /** STREAM-INGESTED minhash index for the streaming-lifecycle gate:
    * the corpus residue built batch-side, then the arriving batch
    * appended through the STREAMING stage
    * ([[graft.streaming.StreamingRollups.indexAppendStream]] —
    * foreachBatch → appendToMinhashIndex under batch-id idempotence),
    * one MemoryStream micro-batch, Trigger.Once. The finished index
    * must be indistinguishable from building over the whole corpus at
    * once, so the gate probe shares `dedup_minhash_lsh_indexed`'s
    * brute-force Jaccard oracle verbatim.
    */
  private def lshStreamIdxTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_lsh_stream_${tag(d)}"
    streamIngestTable(s, t, docBatch(s, Tables.documents(s, d))) {
      Dedup.writeMinhashIndex(
        Tables.documents(s, d).filter(col("doc_id") % 13 =!= 0), t)
    } { (in, ck) =>
      StreamingRollups.indexAppendStream(
        in.toDF("doc_id", "text"), t, ck, streamId = Some(t))
    }
  }

  /** STREAM-INGESTED containment token index: residue built batch-side,
    * the arriving batch appended through
    * [[graft.streaming.StreamingRollups.containmentAppendStream]].
    * Containment's prefix pigeonhole is exact under ANY fixed
    * per-document hash order, so the stream-grown index probes
    * identically to the built-at-once one — the gate shares
    * `dedup_containment_indexed`'s brute-force oracle verbatim.
    */
  private def containStreamIdxTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_contain_stream_${tag(d)}"
    streamIngestTable(s, t, docBatch(s, Tables.documents(s, d))) {
      Dedup.writeContainmentIndex(
        Tables.documents(s, d).filter(col("doc_id") % 13 =!= 0), t)
    } { (in, ck) =>
      StreamingRollups.containmentAppendStream(
        in.toDF("doc_id", "text"), t, ck, streamId = Some(t))
    }
  }

  /** STREAM-INGESTED BM25 inverted index: residue postings + stats
    * built batch-side, the arriving batch appended through
    * [[graft.streaming.StreamingRollups.bm25AppendStream]] — the
    * posting append AND the (N, Σdl) stats restamp run under batch-id
    * idempotence. Stats restamps are additive (n0+n1, s0+s1), so the
    * finished index carries EXACTLY the full-corpus stamp and the gate
    * shares `bm25_indexed`'s oracle verbatim.
    */
  private def bm25StreamIdxTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_bm25_stream_${tag(d)}"
    streamIngestTable(s, t, docBatch(s, Tables.documents(s, d))) {
      Corpus.writeBm25Index(
        Tables.documents(s, d).filter(col("doc_id") % 13 =!= 0), t)
    } { (in, ck) =>
      StreamingRollups.bm25AppendStream(
        in.toDF("doc_id", "text"), t, ck, streamId = Some(t))
    }
  }

  /** STREAM-INGESTED embed band index: the vector-corpus residue built
    * batch-side, the arriving vector batch projected at the RECORDED
    * width and appended through
    * [[graft.streaming.StreamingRollups.embedAppendStream]]. Within
    * the gate's pinned w = 4 geometry domain (the
    * [[assertEmbedOracleGeometry]] contract) the residue and full
    * builds choose the same width, so the stream-grown index probes
    * identically and shares `embed_neardup_indexed`'s oracle.
    */
  private def embedStreamIdxTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_embed_stream_${tag(d)}"
    streamIngestTable(s, t, vecBatch(s, d)) {
      Dedup.writeEmbedBandIndex(
        Tables.embeddings(s, d).filter(col("vec_id") % 13 =!= 0), t)
    } { (in, ck) =>
      StreamingRollups.embedAppendStream(
        in.toDF("vec_id", "embedding"), t, ck, streamId = Some(t))
    }
  }

  /** STREAM-INGESTED media phash index: the binary corpus residue
    * built batch-side, the arriving media batch decoded + hashed by
    * [[graft.streaming.StreamingRollups.mediaAppendStream]] (banding
    * scheme read from the residue index's recorded geometry). Both
    * banding schemes are pigeonhole-exact at the gate threshold, so
    * the probe shares `media_phash_indexed`'s oracle verbatim.
    */
  private def mediaStreamIdxTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val t = s"g_gate_media_stream_${tag(d)}"
    // lazy: opened only when the guard builds, not on every probe
    lazy val media = Multimodal.gateMedia(Tables.documents(s, d))
    streamIngestTable(s, t, media.filter(col("media_id") % 13 === 0)
        .select("media_id", "modality", "payload", "meta")
        .as[(Long, String, Array[Byte], Map[String, String])]) {
      Multimodal.writeMediaPhashIndex(
        media.filter(col("media_id") % 13 =!= 0), t)
    } { (in, ck) =>
      StreamingRollups.mediaAppendStream(
        in.toDF("media_id", "modality", "payload", "meta"), t, ck,
        streamId = Some(t))
    }
  }

  /** STREAM-UPSERTED cluster assignment: the residue components built
    * batch-side, then the arriving document batch MERGED through the
    * STREAMING write-back stage
    * ([[graft.streaming.StreamingRollups.clusterUpsertStream]] —
    * foreachBatch → upsertClusterIndex under batch-id idempotence).
    * The stream-merged live rows must be indistinguishable from a full
    * re-cluster of the union, so the gate shares
    * `cluster_upsert_stats`' recursive-components oracle verbatim.
    */
  private def clusterUpsertStreamTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_cluster_ups_stream_${tag(d)}"
    // lazy: opened only when the guard builds, not on every probe
    lazy val docs = incrGateDocs(s, d)
    streamIngestTable(s, t, docBatch(s, docs)) {
      clearStaleSide(s, t)
      Dedup.writeClusterIndex(docs.filter(col("doc_id") % 13 =!= 0), t)
    } { (in, ck) =>
      StreamingRollups.clusterUpsertStream(
        in.toDF("doc_id", "text"), minhashIncrIndexTable(s, d), t,
        docs.filter(col("doc_id") % 13 =!= 0), ck, streamId = Some(t))
    }
  }

  /** STREAM-UPSERTED semantic components — the embedding-space twin of
    * [[clusterUpsertStreamTable]]: residue components built batch-side
    * under the residue head codebook, the arriving vector batch merged
    * through [[graft.streaming.StreamingRollups.semanticUpsertStream]].
    * Shares `semantic_upsert_stats`' full-rebuild oracle verbatim.
    */
  private def semUpsertStreamTable(s: SparkSession, d: String): String = {
    val t = s"g_gate_sem_ups_stream_${tag(d)}"
    streamIngestTable(s, t, vecBatch(s, d)) {
      clearStaleSide(s, t)
      val residue = Tables.embeddings(s, d).filter(col("vec_id") % 13 =!= 0)
      Similarity.writeSemanticClusterIndex(residue,
        Similarity.headCodebookSized(residue), t)
    } { (in, ck) =>
      StreamingRollups.semanticUpsertStream(
        in.toDF("vec_id", "embedding"), semIncrIdx(s, d), t, ck,
        streamId = Some(t))
    }
  }

  /** Shared plumbing of the five memory-sink stream gates: the events
    * table replayed as ONE micro-batch ([[streamOnce]]) through a
    * streaming `stage` into a memory sink named `name`, in output
    * `mode`. The sink registers a temp view that dies with the session,
    * so [[ensureTable]] guards it.
    */
  private def tickStreamTable(s: SparkSession, d: String, name: String, mode: String)(
      stage: Dataset[StreamingRollups.Tick] => Dataset[_]): String = {
    import s.implicits._
    ensureTable(s, name) {
      val ticks = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .as[StreamingRollups.Tick]
      streamOnce(s, name, ticks) { (in, _) =>
        stage(in).writeStream.format("memory").queryName(name).outputMode(mode)
      }
    }
  }

  /** STREAM-COMPUTED daily OHLC bars for the streaming-compute gate:
    * the events table replayed through one MemoryStream micro-batch
    * into [[graft.streaming.StreamingRollups.ohlcWindowed]]
    * (watermarked event-time windows, complete-mode memory sink) —
    * the STREAMING aggregation itself is what gets oracle-compared,
    * closing the G-section gap where only streaming SINKS were gated
    * (index-append) and streaming COMPUTE was spec-only. Memoized per
    * data generation like the index gates.
    */
  private def ohlcStreamTable(s: SparkSession, d: String): String =
    tickStreamTable(s, d, s"g_gate_ohlc_stream_${tag(d)}", "complete")(in =>
      StreamingRollups.ohlcWindowed(in.toDF(), "1 day", "10 seconds"))

  /** STREAM-COMPUTED daily value rollup (the second streaming-COMPUTE
    * gate next to OHLC): the events table replayed through
    * [[graft.streaming.StreamingRollups.windowedExact]] — event-time
    * day windows, watermark, exact-decimal sums so finalized windows
    * are engine-stable — into a complete-mode memory sink. Memoized
    * per data generation like the other stream gates.
    */
  private def rollupStreamTable(s: SparkSession, d: String): String =
    tickStreamTable(s, d, s"g_gate_rollup_stream_${tag(d)}", "complete")(in =>
      StreamingRollups.windowedExact(in.toDF().withColumnRenamed("user_id", "entity_id"),
        "1 day", "10 seconds"))

  /** STREAM-COMPUTED CUSUM changepoint monitor (the fourth
    * streaming-COMPUTE gate — and the first WINDOWED-STATE fold gated
    * cross-engine, retiring the in-repo-parity-only status of the §G
    * indicator streams): the events table replayed through
    * [[graft.streaming.StreamingRollups.cusumStream]] —
    * flatMapGroupsWithState carrying the two-sided (S⁺, S⁻) BIGINT
    * recursion per series, calibration joined in as the offline
    * artifact ([[graft.operators.TimeSeries.cusumCalibration]]) — into
    * an append-mode memory sink. The stream finalizes a day only when
    * a later day's tick closes it, so each series' still-open LAST day
    * never emits; the oracle is the batch recursive-CTE restricted to
    * rn < m (every closed day), making the comparison exact rather
    * than approximate.
    */
  private def cusumStreamTable(s: SparkSession, d: String): String =
    tickStreamTable(s, d, s"g_gate_cusum_stream_${tag(d)}", "append") { in =>
      val calib = TimeSeries.cusumCalibration(Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value")))
      StreamingRollups.cusumStream(in, calib, "10 seconds")
    }

  /** [[cusumStreamTable]]'s sibling for the HOLT forecaster — the
    * second windowed-state fold gated cross-engine: the events table
    * replayed through [[graft.streaming.StreamingRollups.holtStream]]
    * (two longs of per-series smoothing state, each step one signed
    * HALF_UP integer op in micro-cents). Same closed-day emission
    * domain, same rn < m oracle restriction.
    */
  private def holtStreamTable(s: SparkSession, d: String): String =
    tickStreamTable(s, d, s"g_gate_holt_stream_${tag(d)}", "append")(in =>
      StreamingRollups.holtStream(in, "10 seconds"))

  /** STREAM-COMPUTED session windows (the third streaming-COMPUTE
    * gate): the events table replayed through
    * [[graft.streaming.StreamingRollups.sessionWindowed]] — Spark's
    * declarative `session_window`, whose MERGE rule differs from the
    * batch gaps-and-islands `sessionize` at the exact-gap boundary
    * (windows merge iff next.ts < prev.end, STRICTLY; an event at
    * exactly prev.ts + gap starts a new session, where the batch rule
    * `diff > gap` keeps it) and whose session_end is last + gap, not
    * max(ts). The oracle replays THESE semantics, pinning Spark's
    * actual session algebra cross-engine rather than approximating it
    * with the batch rule.
    */
  private def sessionStreamTable(s: SparkSession, d: String): String =
    tickStreamTable(s, d, s"g_gate_session_stream_${tag(d)}", "complete")(in =>
      StreamingRollups.sessionWindowed(in.toDF().withColumnRenamed("user_id", "entity_id"),
        "30000 seconds", "10 seconds"))

  /** DRIFTED-THEN-RETRAINED IVF index for the retrain gate — the full
    * lifecycle the drift report exists to drive, oracle-gated end to
    * end: the residue-trained index ages by appending the batch under
    * the old codebook (the drift), a takedown slice (vec_id ≡ 3 mod
    * 97) tombstones, then [[Similarity.retrainIvfIndex]] rebuilds the
    * codebook AND assignment over LIVE rows in place (tombstones fold
    * into the rebuilt lists, the side dir drops). The exact-guarantee
    * probe over the retrained index must equal brute force over the
    * live union — the retrain can move every list boundary and the
    * answer may not change.
    */
  private def ivfRetrainIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_ivf_retrain_${tag(d)}") { path =>
      val vecs = Tables.embeddings(s, d)
      Similarity.writeIvfIndex(vecs.filter(col("vec_id") % 13 =!= 0), path)
      Similarity.appendToIvfIndex(s, path,
        vecs.filter(col("vec_id") % 13 === 0))
      Similarity.deleteFromIvfIndex(s, path,
        vecs.filter(col("vec_id") % 97 === 3).select("vec_id"))
      Similarity.retrainIvfIndex(s, path)
    }

  /** AGED IVF index with a SQL-REPRODUCIBLE codebook for the drift
    * gate: centroids are the 16 smallest corpus-residue vec_ids'
    * embeddings (no k-means — an oracle can't replay Lloyd's, but it
    * can replay this seed rule), residue assigned at build, batch
    * appended under the aged codebook. The drift report over this
    * index is then a pure function of the embeddings table, so DuckDB
    * re-derives the whole recall table: assignment (sequential-fold
    * L2 argmin, ties to the lowest list), probe-list selection, both
    * top-k sides, and the HALF_UP recall identity.
    */
  private def ivfDriftIdx(s: SparkSession, d: String): String =
    ensureDir(s"graft_gate_ivf_drift_${tag(d)}") { path =>
      val vecs = Tables.embeddings(s, d)
      val residue = vecs.filter(col("vec_id") % 13 =!= 0)
      val cents = residue.orderBy("vec_id").limit(16)
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      Similarity.writeIvfIndexWith(residue, path, cents)
      Similarity.appendToIvfIndex(s, path, vecs.filter(col("vec_id") % 13 === 0))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — A. rollups —
    "rollup_daily"    -> ((s, d) => Rollups.daily(orderSeries(s, d))),
    "rollup_monthly"  -> ((s, d) => Rollups.monthly(orderSeries(s, d))),
    "rollup_yearly"   -> ((s, d) => Rollups.yearly(orderSeries(s, d))),
    "rollup_combined" -> ((s, d) => Rollups.combined(orderSeries(s, d))),
    "rollup_multi"    -> ((s, d) => Rollups.multiMetric(Tables.lineitem(s, d))),
    // no root sort: like the reference's MongoDB loads, the etl_batch
    // keys' rows have no order (PlanGuardSpec checks all 19)
    "schema_normalize" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        round(coalesce(nanvl(col("value").cast("double"), lit(0.0)), lit(0.0)), 2).as("value_clean"),
        floor(col("value")).cast("long").as("value_floor"))),
    // — B. API surface —
    "api_companies"   -> ((s, d) => ApiSurface.companies(Tables.customer(s, d))),
    "api_agg_types"   -> ((s, d) => ApiSurface.aggTypes(Rollups.combined(orderSeries(s, d)), 1L)),
    "api_period_keys" -> ((s, d) => ApiSurface.periodKeys(Rollups.monthly(orderSeries(s, d)), 1L)),
    "api_data_range"  -> ((s, d) =>
      ApiSurface.dataRange(Rollups.monthly(orderSeries(s, d)), 1L, "1996-01", "1998-12")),
    // probe period derived from the data (entity 1's first month) so
    // the gate can never pass vacuously on 0 rows after a testdata
    // regeneration moves the period inventory
    "api_data_point"  -> ((s, d) =>
      ApiSurface.dataPointFirst(Rollups.monthly(orderSeries(s, d)), 1L)),
    "api_report_list" -> ((s, d) => ApiSurface.reportList(Tables.customer(s, d), "1", 2, 9)),
    "api_search"      -> ((s, d) => ApiSurface.search(Tables.documents(s, d), "join")),
    "api_paginate"    -> ((s, d) => ApiSurface.paginate(Tables.customer(s, d), page = 2, limit = 9)),
    "api_detail"      -> ((s, d) => ApiSurface.detail(Tables.part(s, d), 42L)),
    // — C. text pipeline —
    "news_transform"  -> ((s, d) => TextPipeline.transform(Tables.documents(s, d))),
    // token-BUDGET truncation with the compiled BPE encoder (the
    // reference truncates by tokenizer.encode token count, not
    // whitespace words); merges pinned to the bpe_encode gate list so
    // the oracle replays the same nested-replace convention
    "news_transform_bpe" -> ((s, d) =>
      TextPipeline.transformBpe(Tables.documents(s, d), bpeGateMerges)),
    "news_dedup"      -> ((s, d) => TextPipeline.dedupByTitle(Tables.documents(s, d), 8)),
    // crawl-side URL canonicalization (scheme/www/query/slash variants
    // constructed deterministically from doc_id — piiScrub contract)
    "url_canonical_dedup" -> ((s, d) =>
      TextPipeline.urlCanonicalDedup(Tables.documents(s, d))),
    // duplicate-action suppression: dup = same (user, type) within
    // one hour of its predecessor (non-vacuous on the gate data)
    "event_dedup_window" -> ((s, d) =>
      Analytics.eventDedupWindow(Tables.events(s, d))),
    // ingest-status lifecycle: pending-work view + per-status inventory
    // over a deterministic synthetic status table (doc_id mod 3 —
    // derived from the data so both engines build the identical table)
    "status_pending" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Lifecycle.pendingWork(
          docs.select("doc_id", "lang", "source"), gateStatus(docs), "loaded")
        .orderBy("doc_id")
    }),
    "status_counts" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Lifecycle.statusCounts(docs, gateStatus(docs))
    }),
    // — D. extraction —
    "kv_extract"        -> ((s, d) => Extraction.kvExtract(Tables.events(s, d))),
    "kv_extract_xml"    -> ((s, d) => Extraction.kvExtractXml(Tables.events(s, d))),
    "kv_extract_nested" -> ((s, d) => Extraction.kvExtractNested(Tables.events(s, d))),
    "financial_metrics" -> ((s, d) => Extraction.financialMetrics(Tables.orders(s, d), Tables.lineitem(s, d))),
    "format_rupiah"     -> ((s, d) => Extraction.formatRupiah(Tables.orders(s, d))),
    // — E. analytics core —
    "q1_pricing_summary" -> ((s, d) => Analytics.pricingSummary(Tables.lineitem(s, d))),
    "q3_top_revenue"     -> ((s, d) =>
      Analytics.topRevenue(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q5_region_revenue"  -> ((s, d) =>
      Analytics.regionRevenue(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    // canonical semi/anti join shapes: EXISTS dedups inside the hash
    // join (no fan-out), NOT EXISTS decides absence with no null-padded
    // outer rows — the two join types every decontaminate/keep-list op
    // builds on, gated here in their bare form
    "q4_order_priority" -> ((s, d) =>
      Analytics.latePriority(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q22_no_orders" -> ((s, d) =>
      Analytics.inactiveCustomers(Tables.customer(s, d), Tables.orders(s, d),
        Tables.nation(s, d))),
    // Q13-shaped: left-outer join so zero-order customers hit the 0
    // bucket; second-stage histogram is bounded by max order count
    "q13_order_dist" -> ((s, d) =>
      Analytics.orderCountDistribution(Tables.customer(s, d), Tables.orders(s, d))),
    // Q18-shaped: HAVING aggregate on the fact first, survivors join back
    "q18_large_orders" -> ((s, d) =>
      Analytics.largeOrders(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    // ISO weekday profile (weekday()+1: the engines' dayofweek
    // disagree on Sunday; ISO is ISO everywhere)
    "dow_seasonality" -> ((s, d) => Analytics.dowSeasonality(Tables.orders(s, d))),
    // funnel state-machine DQ: first purchase before first signup
    "dq_sequence" -> ((s, d) => Analytics.dqSequence(Tables.events(s, d))),
    // Q14-shaped: ONE aggregate carries promo + total decimal sums
    "q14_promo_revenue" -> ((s, d) =>
      Analytics.promoRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    // Q19-shaped: disjunctive brackets must stay a residual on a hash
    // join, never a BNLJ (spec-asserted)
    "q19_bracket_revenue" -> ((s, d) =>
      Analytics.bracketRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    // open-order backlog by 30-day age band, as of the data's own max
    // date (deterministic replays, no wall clock)
    "open_order_aging" -> ((s, d) => Analytics.openOrderAging(Tables.orders(s, d))),
    // exact-moment Pearson corr: decimal moments, ONE float op at end
    "qty_price_corr" -> ((s, d) => Analytics.qtyPriceCorr(Tables.lineitem(s, d))),
    // inter-arrival CV² per type: organic vs bursty vs cron traffic
    "interarrival_burstiness" -> ((s, d) =>
      Analytics.interarrivalBurstiness(Tables.events(s, d))),
    // nearest-rank value bands per event type (monitoring band table)
    "value_bands" -> ((s, d) => Analytics.valueBands(Tables.events(s, d))),
    // scaled-integer chi² over the FULL (source × lang) grid
    "source_lang_chi2" -> ((s, d) =>
      Analytics.sourceLangChi2(Tables.documents(s, d))),
    // OLS demand slope from the same exact moments
    "price_qty_slope" -> ((s, d) => Analytics.priceQtySlope(Tables.lineitem(s, d))),
    // integer-cents SES forecast: bounded per-series array fold
    "ses_forecast" -> ((s, d) =>
      Analytics.sesForecast(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d))),
    // discount band → volume/revenue probe; band domain bounds output
    "discount_elasticity" -> ((s, d) =>
      Analytics.discountElasticity(Tables.lineitem(s, d))),
    // exact decimal-moment variance (merge-order independent — float
    // Welford drifts across partitionings), integer identity, top-k
    "part_price_variance" -> ((s, d) =>
      Analytics.partPriceVariance(Tables.lineitem(s, d))),
    // seasonal-aware DAU anomalies: per-weekday rank median + MAD
    // baseline, every day reported with its flag (never vacuous)
    "dau_anomalies" -> ((s, d) => Analytics.dauAnomalies(Tables.events(s, d))),
    // A/B report: md5-deterministic arms, integer-bp conversion per arm
    "ab_test_report" -> ((s, d) => Analytics.abTestReport(Tables.events(s, d))),
    // SCD2 dimension BUILD: run-length collapse of the change log into
    // versioned validity intervals — one user-partitioned window pass
    "scd2_build" -> ((s, d) => Temporal.scd2Build(Tables.events(s, d))),
    // term-level drift: top terms by old-half→new-half smoothed growth
    "trending_terms" -> ((s, d) => Corpus.trendingTerms(Tables.documents(s, d))),
    // cohort LTV triangle: cohort-partitioned cumulative window over
    // the bounded month-offset axis, all-integer cents identities
    "cohort_ltv" -> ((s, d) => Analytics.cohortLtv(Tables.events(s, d))),
    // per-label farthest-from-centroid vectors (mislabel QA): integer
    // cross-multiplied distance to the exact rational centroid
    "label_outliers" -> ((s, d) =>
      Similarity.labelOutliers(Tables.embeddings(s, d))),
    // order→ship latency per priority: integer day lags, bounded output
    "fulfillment_latency" -> ((s, d) =>
      Analytics.fulfillmentLatency(Tables.orders(s, d), Tables.lineitem(s, d))),
    // vocab-size sizing curve: TakeOrdered top-max(k), bounded window
    "vocab_coverage" -> ((s, d) => Corpus.vocabCoverage(Tables.documents(s, d))),
    // per-lang perplexity-filter cut points: nearest-rank percentiles
    // over lang-partitioned windows (no global constant threshold)
    "logprob_cutoffs" -> ((s, d) => Corpus.logprobCutoffs(Tables.documents(s, d))),
    // CCNet head/middle/tail by per-language logprob terciles —
    // integer rank arithmetic, no float quantiles
    "ccnet_buckets" -> ((s, d) => Corpus.ccnetBuckets(Tables.documents(s, d))),
    // per-source KL from the corpus unigram LM (mixing/drift screen)
    "doc_logprob_heldout" -> ((s, d) =>
      Corpus.docLogprobHeldout(Tables.documents(s, d))),
    "source_kl" -> ((s, d) => Corpus.sourceKl(Tables.documents(s, d))),
    // Zipf OLS fit over the top-k vocab (the "is this real text" number)
    "zipf_slope" -> ((s, d) => Corpus.zipfSlope(Tables.documents(s, d))),
    // DSIR importance log-ratios: target-vs-raw smoothed unigram LMs
    "dsir_logratio" -> ((s, d) => Corpus.dsirLogratio(Tables.documents(s, d))),
    "dsir_resample" -> ((s, d) => Corpus.dsirResample(Tables.documents(s, d))),
    // per-doc n-gram novelty vs all earlier docs (one gram shuffle +
    // gram-key window — the dup_spans contract)
    "novelty_curve" -> ((s, d) => Corpus.noveltyCurve(Tables.documents(s, d))),
    // Q10-shaped returned-revenue report: returnflag rides the fact
    // scan, quarter prunes orders pre-shuffle, TakeOrdered top-20
    "q10_returned_items" -> ((s, d) =>
      Analytics.returnedItems(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d))),
    // day-N retention: users × offsets probe rows against the
    // distinct-activity table; cohort size one-row broadcast
    "dn_retention" -> ((s, d) => Analytics.dnRetention(Tables.events(s, d))),
    // Q6-shaped predicate-only scan: the purest pushdown probe
    "q6_forecast_revenue" -> ((s, d) =>
      Analytics.forecastRevenue(Tables.lineitem(s, d))),
    // Q9-shaped profit by (supplier nation, year) with the explicit
    // 0.5·retail·qty cost convention (no partsupp in this schema)
    "q9_profit_nation" -> ((s, d) =>
      Analytics.profitByNation(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.part(s, d))),
    // MoM growth per region: region-partitioned lag window, signed
    // growth via positive-operand integer identity
    "region_mom_growth" -> ((s, d) =>
      Analytics.regionMomGrowth(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d))),
    // market-basket lift: pair explode bounded by lines-per-order²,
    // one-row order total + part counts broadcast, TakeOrdered top-k
    "basket_affinity" -> ((s, d) =>
      Analytics.basketAffinity(Tables.lineitem(s, d))),
    // Lorenz curve without a global customer sort: bounded ≤10001-row
    // basis-point histogram carries the only global window
    "revenue_concentration" -> ((s, d) =>
      Analytics.revenueConcentration(Tables.orders(s, d))),
    // one-number Gini off the same bounded histogram, exact trapezoid
    "revenue_gini" -> ((s, d) => Analytics.revenueGini(Tables.orders(s, d))),
    // ordered view→click→purchase depth per session: stacked windows
    // over ONE (user, session) partitioning, constant 4-row output
    "session_funnel" -> ((s, d) => Analytics.sessionFunnel(Tables.events(s, d))),
    // exact trailing-28-day MAU via a bounded ×window explode of the
    // DEDUPLICATED (user, day) table — never a per-day window scan
    "rolling_active_users" -> ((s, d) =>
      Analytics.rollingActiveUsers(Tables.events(s, d))),
    // the indexed twin: same curve off the PERSISTED day-partitioned
    // activity rollup — the corpus-wide distinct is paid at ingest
    "active_users_indexed" -> ((s, d) =>
      Analytics.rollingActiveUsersFrom(s.table(activityTable(s, d)))),
    // partition-pruned window probe: the range predicate rides the
    // partition column, so the scan reads ONLY the window's days
    "dau_window_indexed" -> ((s, d) =>
      Analytics.dauWindow(s.table(activityTable(s, d)),
        "2024-01-08", "2024-01-14")),
    // click→purchase lag histogram: as-of via ONE user-partitioned
    // window (no self-join), output bounded at 24·maxDays rows
    "conversion_lag" -> ((s, d) => Analytics.conversionLag(Tables.events(s, d))),
    // bigram-LM cross-entropy proxy: transition-level doc scoring the
    // unigram doc_logprob can't see; 6dp-decimal log terms, engine-exact
    "doc_logprob_bigram" -> ((s, d) =>
      Corpus.docLogprobBigram(Tables.documents(s, d))),
    // all type-pair audience overlaps in ONE pass: per-user type set
    // (bounded by the type domain), in-row pair explode, one shuffle
    "audience_overlap" -> ((s, d) =>
      Analytics.audienceOverlap(Tables.events(s, d))),
    // gaps-and-islands: consecutive-active-day streaks per user via
    // the day − row_number island key; user-partitioned windows only
    "user_streaks" -> ((s, d) => Analytics.userStreaks(Tables.events(s, d))),
    // source-pair vocabulary Jaccard: word-keyed self-join (work
    // bounded per word by the source-domain size, not corpus volume)
    "source_vocab_jaccard" -> ((s, d) =>
      Corpus.sourceVocabJaccard(Tables.documents(s, d))),
    // Q7-shaped: nation-pair trade volume; both nation filters pushed
    // into broadcast dim joins BEFORE the lineitem⋈orders shuffle
    "q7_nation_volume" -> ((s, d) =>
      Analytics.nationVolume(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    // Q8-shaped: one nation's market share of a part type in a region,
    // per year; one aggregate carries conditional + total sums
    "q8_market_share" -> ((s, d) =>
      Analytics.marketShare(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), Tables.part(s, d))),
    // Q15-shaped: max-revenue supplier via one-row broadcast max join,
    // not a partition-less global window
    "q15_top_supplier" -> ((s, d) =>
      Analytics.topSupplier(Tables.lineitem(s, d), Tables.supplier(s, d))),
    // Q17-shaped: decorrelated per-part avg-qty threshold, all-integer
    // cross-multiplied comparison
    "q17_small_qty" -> ((s, d) =>
      Analytics.smallQtyRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    // Q16-shaped: distinct-supplier variety per (brand,type,size) with
    // the distinct BEFORE the bucket count (no count-distinct shuffle)
    "q16_supplier_variety" -> ((s, d) =>
      Analytics.supplierVariety(Tables.lineitem(s, d), Tables.part(s, d))),
    // Q20-shaped: correlated avail-qty subquery decorrelated into a
    // per-part aggregate, threshold cross-multiplied to all-integer
    "q20_excess_suppliers" -> ((s, d) =>
      Analytics.excessSuppliers(Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.part(s, d))),
    // Q21-shaped: the EXISTS/NOT-EXISTS pair collapsed into one
    // per-order conditional aggregate (n_supp ≥ 2 ∧ n_late = 1)
    "q21_late_suppliers" -> ((s, d) =>
      Analytics.lateSoleSuppliers(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.supplier(s, d))),
    // Q2-shaped: the correlated min-cost subquery decorrelated into a
    // per-part min joined back; integer-cent compares, ties kept,
    // total-order LIMIT
    "q2_min_cost_supplier" -> ((s, d) =>
      Analytics.minCostRegionSupplier(Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.nation(s, d), Tables.region(s, d), Tables.part(s, d))),
    // Q12-shaped: ship-class × order-priority conditional counts; the
    // orders side joins as (key, 0/1 flag) only
    "q12_ship_priority" -> ((s, d) =>
      Analytics.shipClassPriority(Tables.lineitem(s, d), Tables.orders(s, d))),
    // Benford first-digit conformance: full 9-digit grid, integer bp,
    // expected shares as pre-rounded constants (no query-time log10)
    "benford_totalprice" -> ((s, d) =>
      Analytics.benfordCheck(Tables.orders(s, d))),
    // Q11-shaped: HAVING against a one-row global total, exact decimal
    // cross-multiplied threshold
    "q11_important_parts" -> ((s, d) =>
      Analytics.importantParts(Tables.lineitem(s, d), Tables.supplier(s, d),
        Tables.nation(s, d))),
    // ATR / stochastic %K: all-integer volatility + channel position
    // over daily bars (full frames only, HALF_UP identities)
    "atr_daily" -> ((s, d) => Finance.atr(Tables.events(s, d))),
    "stochastic_k" -> ((s, d) => Finance.stochasticK(Tables.events(s, d))),
    "donchian_channels" -> ((s, d) => Finance.donchianChannels(Tables.events(s, d))),
    "macd_daily" -> ((s, d) => Finance.macd(Tables.events(s, d))),
    "rsi_wilder" -> ((s, d) => Finance.rsiWilder(Tables.events(s, d))),
    "keltner_channels" -> ((s, d) => Finance.keltner(Tables.events(s, d))),
    "aroon_daily" -> ((s, d) => Finance.aroon(Tables.events(s, d))),
    "ichimoku_lines" -> ((s, d) => Finance.ichimokuLines(Tables.events(s, d))),
    // Williams %R / CCI / ROC+momentum / MFI / floor pivots: the
    // windowed-indicator family on the shared bar aggregate — every
    // division a HALF_UP integer identity (CCI's /3 cancels in
    // (n·T−S)·n·1000/(15·D); MFI weighs flow by tick count)
    "williams_r" -> ((s, d) => Finance.williamsR(Tables.events(s, d))),
    "cci_daily" -> ((s, d) => Finance.cci(Tables.events(s, d))),
    "roc_momentum" -> ((s, d) => Finance.rocMomentum(Tables.events(s, d))),
    "mfi_daily" -> ((s, d) => Finance.mfi(Tables.events(s, d))),
    "pivot_points" -> ((s, d) => Finance.pivotPoints(Tables.events(s, d))),
    // Heikin-Ashi: the smoothed-candle recursion in QUARTER-CENTS —
    // one positive HALF_UP halving per bar, /400.0 exact-emit
    "heikin_ashi" -> ((s, d) => Finance.heikinAshi(Tables.events(s, d))),
    // ADX: Wilder's directional system — FOUR chained integer
    // recursions (±DM, TR, then ADX over DX), micro-cent/micro-bp
    "adx_daily" -> ((s, d) => Finance.adx(Tables.events(s, d))),
    // SuperTrend: the CONDITIONAL band recursion — ratcheting final
    // bands + trend flips, every branch a BIGINT compare
    "supertrend" -> ((s, d) => Finance.supertrend(Tables.events(s, d))),
    // hand-rolled runtime filter: kilobyte bloom broadcast prunes the
    // fact before the semi-join shuffle; exact join culls false
    // positives, so the oracle is the plain semi join
    "bloom_prune_join" -> ((s, d) =>
      Analytics.bloomSemiJoin(Tables.orders(s, d), Tables.customer(s, d))),
    // Q2-shaped argmin join: cheapest supplier per part via min_by —
    // no window sort, deterministic suppkey tie-break
    "argmin_cheapest" -> ((s, d) =>
      Analytics.cheapestSupplier(Tables.lineitem(s, d), Tables.supplier(s, d))),
    // compaction/changelog current-state view: one max_by shuffle
    "latest_by_key" -> ((s, d) => Analytics.latestByKey(Tables.events(s, d))),
    "window_rank" -> ((s, d) => Analytics.topOrdersPerCustomer(Tables.orders(s, d), 3)),
    // same result as window_rank via the bounded-heap top-k AGGREGATE
    // (graft.plans.TopKByOrd): shuffles ≤ k rows per (group ×
    // partition) with no partition sort — the at-scale form of
    // top-n-per-key; the window twin stays as the oracle anchor
    "window_rank_agg" -> ((s, d) =>
      Tables.orders(s, d).groupBy("o_custkey")
        .agg(graft.plans.SketchAggs.topKBy(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), col("col.payload").as("o_orderkey"),
          round(col("col.ord"), 2).as("total"), (col("pos") + 1).as("rn"))
        .orderBy("o_custkey", "rn")),
    "moving_avg"  -> ((s, d) => Analytics.movingAvg(Tables.events(s, d), 7)),
    "sessionize"  -> ((s, d) => Analytics.sessionize(Tables.events(s, d), 30000L)),
    "top_k"       -> ((s, d) => Analytics.topK(Tables.orders(s, d), 100)),
    "region_pivot" -> ((s, d) =>
      Analytics.regionPivot(Tables.region(s, d), Tables.nation(s, d),
        Tables.customer(s, d), Tables.orders(s, d))),
    "asof_join"  -> ((s, d) => Temporal.asofJoin(Tables.events(s, d))),
    "asof_join_tolerance" -> ((s, d) => Temporal.asofJoinTolerance(Tables.events(s, d), 12)),
    "range_join" -> ((s, d) => Temporal.rangeJoinOrders(Tables.orders(s, d), 90)),
    // the general two-table range join: click→purchase attribution
    // within a 7-day window (value summed as decimal — double sums
    // drift with partition merge order)
    "range_join_2t" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("key"), col("event_id").as("a_key"), col("ts").as("a_date"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("ts").as("b_date"),
          col("value").cast("decimal(18,4)").as("b_val"))
      Temporal.rangeJoinPairs(clicks, purchases, 7)
        .groupBy(col("a_key").as("click_id"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum("b_val"), 2).cast("double").as("purchase_total"))
        .orderBy("click_id")
    }),
    // linear multi-touch attribution over the same click/purchase
    // framing as range_join_2t: value split equally per preceding
    // click, remainder to the earliest
    "attribution_linear" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("key"), col("event_id").as("a_key"), col("ts").as("a_date"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("event_id").as("b_key"), col("ts").as("b_date"),
          col("value").cast("decimal(18,4)").as("b_val"))
      Temporal.attributionLinear(clicks, purchases, 7)
    }),
    // time-decay attribution: power-of-two day weights keep every
    // share exact integer; remainder reconciles to the latest click
    "attribution_time_decay" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("key"), col("event_id").as("a_key"), col("ts").as("a_date"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("event_id").as("b_key"), col("ts").as("b_date"),
          col("value").cast("decimal(18,4)").as("b_val"))
      Temporal.attributionTimeDecay(clicks, purchases, 7)
    }),
    // last-touch attribution: full value to the latest in-window
    // click, decided by one max_by aggregate (no per-purchase sort)
    "attribution_last_touch" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("key"), col("event_id").as("a_key"), col("ts").as("a_date"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("event_id").as("b_key"), col("ts").as("b_date"),
          col("value").cast("decimal(18,4)").as("b_val"))
      Temporal.attributionLastTouch(clicks, purchases, 7)
    }),
    "skew_salted_agg" -> ((s, d) => Analytics.saltedAgg(Tables.lineitem(s, d))),
    // hot-key-partial salted join: value-identical to the plain join
    // for any hot list; the skew-spreading property is spec-pinned
    "skew_salted_join" -> ((s, d) =>
      Analytics.saltedJoinRevenue(Tables.lineitem(s, d), Tables.orders(s, d))),
    "skew_report" -> ((s, d) => Analytics.skewReport(Tables.events(s, d))),
    // the Z-curve key itself, value-gated (the layout writer rides on
    // it — writeZOrdered's disjoint-file property is spec-asserted)
    "zorder_key" -> ((s, d) =>
      Tables.events(s, d).select(col("event_id"),
        graft.sources.Sinks.zorderKey(
          col("user_id"), floor(col("value")).cast("long")).as("z"))
        .orderBy("event_id")),
    // bounded-memory Misra-Gries summary; k=8 over the 5-value type
    // domain never evicts, so counts are exact THROUGH the
    // multi-partition merge path (eviction is spec-pinned)
    "heavy_hitters" -> ((s, d) =>
      Tables.events(s, d)
        .agg(graft.plans.SketchAggs.heavyHitters(col("event_type"), 8).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("item"), col("e.cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("item"))),
    // fact⋈fact over the co-bucketed pair: join AND per-key aggregate
    // ride the bucket partitioning, zero exchanges (spec-asserted)
    "join_bucketed_indexed" -> ((s, d) => cobucketedRevenue(s, d)),
    "embed_drift" -> ((s, d) => Similarity.embedDrift(Tables.embeddings(s, d))),
    // bit-reproducible per-(label, dim) quantized centroid report
    "label_centroids" -> ((s, d) => Similarity.labelCentroids(Tables.embeddings(s, d))),
    // distributed PCA: power iteration with d-element driver state and
    // per-step 6dp re-sync (engine trajectories re-lock every rounding)
    "embed_pca_power" -> ((s, d) =>
      Similarity.embedPcaPower(Tables.embeddings(s, d))),
    // contrastive-training hard negatives: ANN top-k minus any
    // candidate sharing a word 8-gram with the query document
    "hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.documents(s, d), Tables.embeddings(s, d))),
    // gate form: deterministic columns only — the raw sketch estimates
    // are implementation-defined across engines, so the gate hashes the
    // exact companion values plus in-bound booleans (the full report
    // with estimates is cardinalityReport/quantileSketch, spec-pinned)
    "hll_cardinality" -> ((s, d) => Analytics.cardinalityGate(Tables.events(s, d))),
    // re-aggregatable distinct off the PERSISTED day-sketch table:
    // per-type users from a kilobyte sketch merge, gated like
    // hll_cardinality (exact count + in-bound boolean — raw sketch
    // estimates are implementation-defined across engines)
    "hll_rollup_indexed" -> ((s, d) => {
      val approx = Analytics.cardinalityFromSketches(s, hllSketchTable(s, d))
      val exact = Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"))
      exact.join(approx, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            lit(0.05) * col("exact_users")).as("within_bound"))
        .orderBy("event_type")
    }),
    "quantile_sketch" -> ((s, d) => Analytics.quantileSketchGate(Tables.orders(s, d))),
    // EXACT percentiles off the persisted month×bin histogram partials
    // (the re-aggregatable quantile index): kilobyte bin merge + one
    // bounded in-bin refine per percentile, no raw re-aggregation
    "quantile_rollup_indexed" -> ((s, d) =>
      Analytics.quantilesFromHistogram(s, histTable(s, d), Tables.orders(s, d))),
    "funnel_conversion" -> ((s, d) => Analytics.funnel(Tables.events(s, d))),
    "funnel_steps" -> ((s, d) => Analytics.funnelSteps(Tables.events(s, d))),
    // symmetric interval overlap: 1h click windows × 2h purchase
    // windows per user
    "interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val a = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("key"), col("event_id").as("a_key"),
          col("ts").as("a_start"), (col("ts") + expr("INTERVAL 1 HOUR")).as("a_end"))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("event_id").as("b_key"),
          col("ts").as("b_start"), (col("ts") + expr("INTERVAL 2 HOURS")).as("b_end"))
      Temporal.intervalJoin(a, b)
    }),
    // point-in-time dim join over a two-version synthetic SCD2
    // dimension derived from customer (segment rotates at 1996-01-01)
    "scd2_join" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val dim = cust.select(col("c_custkey").as("dim_key"),
          explode(array(
            struct(lit("1992-01-01").cast("date").as("valid_from"),
              lit("1996-01-01").cast("date").as("valid_to"),
              col("c_mktsegment").as("segment")),
            struct(lit("1996-01-01").cast("date").as("valid_from"),
              lit("9999-12-31").cast("date").as("valid_to"),
              concat(col("c_mktsegment"), lit("_V2")).as("segment")))).as("v"))
        .select(col("dim_key"), col("v.valid_from"), col("v.valid_to"), col("v.segment"))
      Temporal.scd2Join(
          Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate"),
          dim, "o_custkey", "o_orderdate")
        .select(col("o_orderkey"), col("segment"))
        .orderBy("o_orderkey")
    }),
    "retention_cohorts" -> ((s, d) => Analytics.retentionCohorts(Tables.events(s, d))),
    "rollup_median"   -> ((s, d) => Analytics.medianByEntity(Tables.orders(s, d))),
    "percentiles_entity" -> ((s, d) => Analytics.percentilesByEntity(Tables.orders(s, d))),
    // incremental maintenance: monthly rebuilt from day-grain
    // algebraic partials — must equal rollup_monthly exactly (same
    // oracle), proving the merge path a recurring 100 TB rollup runs
    "rollup_incremental" -> ((s, d) =>
      Rollups.monthlyFromDaily(Rollups.dailyPartials(orderSeries(s, d)))),
    // the PERSISTED form: partials written once at ingest (month-
    // partitioned), the monthly merge reads the partials table only;
    // like every other artifact it is built eagerly by its guard when
    // the DataFrame is built, so the bench's pre-build absorbs it
    "rollup_partials_indexed" -> ((s, d) =>
      Rollups.monthlyFromPartialsCatalog(s, partialsTable(s, d))),
    "event_transitions" -> ((s, d) => Analytics.eventTransitions(Tables.events(s, d))),
    "transition_probs" -> ((s, d) => Analytics.transitionProbs(Tables.events(s, d))),
    "user_rfm" -> ((s, d) => Analytics.userRfm(Tables.events(s, d))),
    // the report's time axis: per-day violation sums + rate in bp
    "dq_trend" -> ((s, d) => DataQuality.trend(Tables.events(s, d))),
    // daily view→purchase conversion in bp (growth dashboard trend)
    "conversion_trend" -> ((s, d) => Analytics.conversionTrend(Tables.events(s, d))),
    "dq_report" -> ((s, d) => DataQuality.report(Tables.orders(s, d),
      Tables.lineitem(s, d), Tables.customer(s, d), Tables.events(s, d))),
    "table_profile" -> ((s, d) => DataQuality.profileOrders(Tables.orders(s, d))),
    "rollup_margins"      -> ((s, d) => Rollups.rollupMargins(Tables.orders(s, d))),
    "cube_margins"        -> ((s, d) => Rollups.cubeMargins(Tables.orders(s, d))),
    "series_fill_forward" -> ((s, d) => Rollups.fillForwardMonthly(Tables.orders(s, d))),
    "zscore_outliers"     -> ((s, d) => Analytics.zscoreOutliers(Tables.orders(s, d))),
    // heavy-tail-robust twin: all-integer rank medians + MAD flag
    "mad_outliers"        -> ((s, d) => Analytics.madOutliers(Tables.orders(s, d))),
    // market-data family: the upstream (tick → bar → signal) half of
    // the reference's OHLCV pipeline that YFinance pre-computes for it
    "ohlc_resample" -> ((s, d) => Finance.ohlcResample(Tables.events(s, d))),
    // the STREAMING aggregation gated end to end: ohlcWindowed over a
    // replayed event stream (event-time windows + watermark, complete
    // mode) must reproduce the batch candlesticks the oracle computes
    // — same min_by/max_by composite order key, same 2dp rounds
    // the third streaming-COMPUTE gate: Spark's session_window merge
    // algebra (strict-< overlap, end = last + gap) replayed exactly
    "session_stream_ingested" -> ((s, d) =>
      s.table(sessionStreamTable(s, d))
        .select(col("entity_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
            .as("session_end"),
          col("n_events"), col("total_value"))
        .orderBy("entity_id", "session_start")),
    // the second streaming-COMPUTE gate: windowedExact over the
    // replayed event stream must reproduce the batch per-(user, day)
    // rollup — decimal sums keep finalized windows engine-stable
    "rollup_stream_ingested" -> ((s, d) =>
      s.table(rollupStreamTable(s, d))
        .select(col("entity_id"),
          date_format(col("window.start"), "yyyy-MM-dd").as("period_key"),
          col("cnt_value"), col("sum_value"), col("max_value"),
          col("min_value"))
        .orderBy("entity_id", "period_key")),
    "ohlc_stream_ingested" -> ((s, d) =>
      s.table(ohlcStreamTable(s, d))
        .select(col("user_id"),
          date_format(col("window.start"), "yyyy-MM-dd").as("period_key"),
          col("open"), col("high"), col("low"), col("close"), col("n_obs"))
        .orderBy("user_id", "period_key")),
    // the fourth streaming-COMPUTE gate — a WINDOWED-STATE fold
    // (flatMapGroupsWithState CUSUM) replayed cross-engine: every
    // CLOSED day's (S+, S-, alarm) against the batch recursive CTE
    // restricted to closed days (rn < m)
    "cusum_stream_ingested" -> ((s, d) =>
      s.table(cusumStreamTable(s, d))
        .select(col("user_id"), col("day"), col("target"),
          col("s_pos"), col("s_neg"), col("alarm"))
        .orderBy("user_id", "day")),
    // its sibling: the Holt forecaster's windowed-state fold, same
    // closed-day domain against the batch recursion's oracle
    "holt_stream_ingested" -> ((s, d) =>
      s.table(holtStreamTable(s, d))
        .select(col("user_id"), col("day"), col("level"),
          col("trend"), col("forecast"))
        .orderBy("user_id", "day")),
    // weekly bars from DAILY bars, never raw ticks (algebraic merge;
    // oracle resamples ticks directly — value-identical by contract)
    "ohlc_weekly_incremental" -> ((s, d) =>
      Finance.ohlcWeeklyFromDaily(Tables.events(s, d))),
    // the dashboard range read over the candlestick series
    "api_series_ohlc" -> ((s, d) =>
      Finance.ohlcResample(Tables.events(s, d))
        .filter(col("user_id") === 1 &&
          col("period_key") >= "2024-01-08" && col("period_key") <= "2024-01-21")
        .orderBy("period_key")),
    "returns_daily" -> ((s, d) => Finance.returns(Tables.events(s, d))),
    "sma_crossover" -> ((s, d) => Finance.smaCrossover(Tables.events(s, d))),
    "max_drawdown"  -> ((s, d) => Finance.maxDrawdown(Tables.events(s, d))),
    "vwap_monthly"  -> ((s, d) => Finance.vwap(Tables.lineitem(s, d))),
    "twap_daily"    -> ((s, d) => Finance.twapDaily(Tables.events(s, d))),
    // LTTB-family chart downsampling: ≤ nBuckets points per series,
    // all-integer triangle areas, bucket-mean anchors (parallel form)
    "series_downsample" -> ((s, d) => Finance.lttbDownsample(Tables.events(s, d))),
    "series_beta"   -> ((s, d) => Finance.seriesBeta(Tables.events(s, d))),
    // indicator family over daily closes: all-integer (basis points /
    // cents), no float σ or float division anywhere except final emits
    "rsi_cutler"    -> ((s, d) => Finance.rsiCutler(Tables.events(s, d))),
    // the indicator family's indexed twin: same RSI off the PERSISTED
    // series-bucketed bar table — zero hash exchanges (spec-asserted),
    // reads |days| bars instead of raw ticks; same oracle as direct
    "rsi_indexed"   -> ((s, d) => Finance.rsiFromBars(s.table(barsTable(s, d)))),
    // the persisted-bars twins of the recursive indicators: the fold
    // rides the bucket layout with zero hash exchanges (spec-pinned)
    "macd_indexed" -> ((s, d) => Finance.macdFromBars(
      s.table(barsTable(s, d)).select("user_id", "day", "c"))),
    "rsi_wilder_indexed" -> ((s, d) => Finance.rsiWilderFromBars(
      s.table(barsTable(s, d)).select("user_id", "day", "c"))),
    "keltner_indexed" -> ((s, d) => Finance.keltnerFromBars(
      s.table(barsTable(s, d)))),
    // the round-9 recursions' persisted-bars twins: SuperTrend's
    // conditional band fold, ADX's four Wilder folds, and the
    // Heikin-Ashi candle recursion (off the OHLC bar artifact — the
    // one consumer needing the open leg) all ride the bucket layout
    // with zero hash exchanges (spec-pinned); shared oracles
    "supertrend_indexed" -> ((s, d) => Finance.supertrendFromBars(
      s.table(barsTable(s, d)).select("user_id", "day", "h", "l", "c"))),
    "adx_indexed" -> ((s, d) => Finance.adxFromBars(
      s.table(barsTable(s, d)).select("user_id", "day", "h", "l", "c"))),
    "heikin_ashi_indexed" -> ((s, d) => Finance.heikinAshiFromBars(
      s.table(ohlcBarsTable(s, d)))),
    // — the time-series diagnostics layer over the same bar table:
    // autocorrelation, robust trend, changepoints, smoothing —
    // ACF at lags 1..5: exact BIGINT moments per (series, lag), the
    // pinned √vx·√vy denominator, degenerate lags drop in both engines
    "acf_lags" -> ((s, d) => TimeSeries.acfLags(Tables.events(s, d))),
    // Kendall tau-b of close vs TIME: exact pairwise sign fold +
    // tie-corrected denominator — the robust monotone-trend test
    "kendall_trend" -> ((s, d) => TimeSeries.kendallTrend(Tables.events(s, d))),
    // Theil–Sen: lower-median of HALF_UP integer pairwise slopes over
    // the trailing 504 bars (the materialization bound)
    "theil_sen" -> ((s, d) => TimeSeries.theilSen(Tables.events(s, d))),
    // two-sided CUSUM off self-calibrated integer median/MAD targets —
    // the changepoint alarm, recursion replayed as a recursive CTE
    "cusum_changepoint" -> ((s, d) =>
      TimeSeries.cusumChangepoint(Tables.events(s, d))),
    // Holt linear smoothing with α=β=1/2: every step one signed
    // HALF_UP halving in micro-cents; level/trend/one-step forecast
    "holt_linear" -> ((s, d) => TimeSeries.holtLinear(Tables.events(s, d))),
    // Ljung–Box Q off the gate-pinned 6dp ACF values, the lag sum
    // written out in one fixed IEEE chain (never a SQL aggregate)
    "ljung_box" -> ((s, d) => TimeSeries.ljungBox(Tables.events(s, d))),
    // PACF lags 1..3 in closed determinant form off the same ACF —
    // near-singular Toeplitz denominators drop in both engines
    "pacf_lags" -> ((s, d) => TimeSeries.pacf(Tables.events(s, d))),
    // classical additive decomposition by engine-neutral weekday:
    // centered 7-bar HALF_UP trend, per-weekday HALF_UP seasonal
    "seasonal_decompose" -> ((s, d) =>
      TimeSeries.seasonalDecompose(Tables.events(s, d))),
    // rolling ±3-bar lower-median/MAD despiker with substitution
    "hampel_filter" -> ((s, d) => TimeSeries.hampelFilter(Tables.events(s, d))),
    // calendar-gap linear interpolation in exact cents, flagged rows
    // unioned with the original bars
    "series_interpolate" -> ((s, d) =>
      TimeSeries.seriesInterpolate(Tables.events(s, d))),
    // leave-one-out market cross-correlation at lags −3..+3: exact
    // BIGINT moments, broadcast market table
    "ccf_market" -> ((s, d) => TimeSeries.ccfMarket(Tables.events(s, d))),
    // naive vs seasonal-naive MAE + integer-bp MASE per series
    "forecast_skill" -> ((s, d) => TimeSeries.forecastSkill(Tables.events(s, d))),
    // Lo–MacKinlay variance ratio at q=5: exact integer variance
    // moments, one pinned float chain — the random-walk diagnostic
    "variance_ratio" -> ((s, d) => TimeSeries.varianceRatio(Tables.events(s, d))),
    // Wald–Wolfowitz runs test on change signs: integer counts + one
    // pinned float z-chain — the non-parametric randomness check
    "runs_test" -> ((s, d) => TimeSeries.runsTest(Tables.events(s, d))),
    // Holt–Winters additive weekly smoothing, α=β=γ=1/2: every step a
    // signed HALF_UP integer halving; completes the smoothing ladder
    "holt_winters" -> ((s, d) => TimeSeries.holtWinters(Tables.events(s, d))),
    // the diagnostics' persisted-bars twins: recurring monitoring jobs
    // read |days| bars off the series-bucketed bar artifact — the
    // per-series folds ride the bucket layout with zero hash exchanges
    // (spec-pinned; ccf_indexed re-keys by day/(series,day) past the
    // first projection, documented at TimeSeries.ccfMarketFromBars) —
    // instead of re-aggregating raw ticks per query; shared oracles
    "acf_indexed" -> ((s, d) => TimeSeries.acfLagsFromBars(
      s.table(barsTable(s, d)))),
    "kendall_indexed" -> ((s, d) => TimeSeries.kendallTrendFromBars(
      s.table(barsTable(s, d)))),
    "theil_sen_indexed" -> ((s, d) => TimeSeries.theilSenFromBars(
      s.table(barsTable(s, d)))),
    "cusum_indexed" -> ((s, d) => TimeSeries.cusumChangepointFromBars(
      s.table(barsTable(s, d)))),
    "holt_indexed" -> ((s, d) => TimeSeries.holtLinearFromBars(
      s.table(barsTable(s, d)))),
    "ljung_box_indexed" -> ((s, d) => TimeSeries.ljungBoxFromBars(
      s.table(barsTable(s, d)))),
    "pacf_indexed" -> ((s, d) => TimeSeries.pacfFromBars(
      s.table(barsTable(s, d)))),
    "seasonal_indexed" -> ((s, d) => TimeSeries.seasonalDecomposeFromBars(
      s.table(barsTable(s, d)))),
    "hampel_indexed" -> ((s, d) => TimeSeries.hampelFilterFromBars(
      s.table(barsTable(s, d)))),
    "interpolate_indexed" -> ((s, d) => TimeSeries.seriesInterpolateFromBars(
      s.table(barsTable(s, d)))),
    "ccf_indexed" -> ((s, d) => TimeSeries.ccfMarketFromBars(
      s.table(barsTable(s, d)))),
    "forecast_skill_indexed" -> ((s, d) => TimeSeries.forecastSkillFromBars(
      s.table(barsTable(s, d)))),
    "variance_ratio_indexed" -> ((s, d) => TimeSeries.varianceRatioFromBars(
      s.table(barsTable(s, d)))),
    "runs_test_indexed" -> ((s, d) => TimeSeries.runsTestFromBars(
      s.table(barsTable(s, d)))),
    "holt_winters_indexed" -> ((s, d) => TimeSeries.holtWintersFromBars(
      s.table(barsTable(s, d)))),
    "bollinger_breaches" -> ((s, d) =>
      Finance.bollingerBreaches(Tables.events(s, d))),
    "obv_daily"     -> ((s, d) => Finance.obvDaily(Tables.events(s, d))),
    "top_movers"    -> ((s, d) => Finance.topMovers(Tables.events(s, d))),
    // cross-asset corr matrix bounded by the top-N turnover domain
    "series_corr_topn" -> ((s, d) => Finance.seriesCorrTopN(Tables.events(s, d))),
    // gaps-and-islands underwater duration (drawdown's time axis)
    "drawdown_duration" -> ((s, d) => Finance.drawdownDuration(Tables.events(s, d))),
    // monthly order-status mix in bp (ops lifecycle dashboard)
    "status_mix_trend" -> ((s, d) => Analytics.statusMixTrend(Tables.orders(s, d))),
    // nearest-rank SLA latency bands per priority (the tail view)
    "latency_bands" -> ((s, d) =>
      Analytics.latencyBands(Tables.orders(s, d), Tables.lineitem(s, d))),
    // sketch-algebra audience intersection (I–E over HLL unions),
    // gated on the exact overlap + a within-bound boolean
    "hll_overlap" -> ((s, d) => Analytics.hllOverlap(Tables.events(s, d))),
    // dedup threshold PR curve over the verified LSH pair set
    "dedup_pr_curve" -> ((s, d) => Dedup.dedupPrCurve(Tables.documents(s, d))),
    // SoftDeDup realized: md5-bucket thinning under cluster weights
    "dedup_weighted_sample" -> ((s, d) =>
      Dedup.weightedSample(Tables.documents(s, d))),
    // the LSH geometry's theoretical S-curve (squaring ladder, 6dp
    // re-round per step — no float pow)
    "lsh_s_curve" -> ((s, _) => Dedup.lshSCurve(s)),
    // — F. LLM-data-pipeline ops —
    "dedup_exact"       -> ((s, d) => Dedup.exact(Tables.documents(s, d))),
    "dup_spans"         -> ((s, d) => Dedup.dupSpans(Tables.documents(s, d))),
    "strip_dup_spans"   -> ((s, d) => Dedup.stripDupSpans(Tables.documents(s, d))),
    "source_reputation" -> ((s, d) => Corpus.sourceReputation(Tables.documents(s, d))),
    "source_filter"     -> ((s, d) => Corpus.filterBySource(Tables.documents(s, d))),
    "dedup_keep_best"   -> ((s, d) => Dedup.keepBest(Tables.documents(s, d))),
    "quality_filter"    -> ((s, d) => TextAnalysis.qualityFilter(Tables.documents(s, d))),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(Tables.documents(s, d))),
    // sequence-aware second stage: LSH candidates re-scored by
    // normalized Levenshtein (integer bp) — DP only on candidates
    "dedup_edit_distance" -> ((s, d) =>
      Dedup.editDistancePairs(Tables.documents(s, d))),
    // crawl-ops view: per-source share of docs in ≥1 near-dup pair
    "dup_rate_by_source" -> ((s, d) =>
      Dedup.dupRateBySource(Tables.documents(s, d))),
    // threshold calibration: candidate-pair Jaccard band histogram
    "pair_sim_histogram" -> ((s, d) =>
      Dedup.pairSimHistogram(Tables.documents(s, d))),
    "dedup_cluster"     -> ((s, d) => Dedup.minhashClusters(Tables.documents(s, d))),
    "dedup_cluster_stats" -> ((s, d) => Dedup.clusterStats(Tables.documents(s, d))),
    // SoftDeDup downweighting: weight 1/|cluster| instead of dropping
    "dedup_weights" -> ((s, d) => Dedup.dedupWeights(Tables.documents(s, d))),
    // the persisted-index twins: build the index once (ingest-time
    // artifact), then run the consumer — same oracles as the direct
    // forms, zero-exchange plans spec-asserted in HashExprsSpec
    "dedup_minhash_lsh_indexed" -> ((s, d) =>
      Dedup.minhashLshIndexed(s, minhashIdx(s, d), Tables.documents(s, d))),
    // the STREAM-maintained index: residue built batch-side, batch
    // appended through indexAppendStream (foreachBatch + batch-id
    // idempotence) — the finished index must equal the built-at-once
    // one, so this shares dedup_minhash_lsh_indexed's oracle verbatim
    "dedup_lsh_stream_ingested" -> ((s, d) =>
      Dedup.minhashLshIndexed(s, lshStreamIdxTable(s, d), Tables.documents(s, d))),
    // the remaining appendTo* families under the same streaming stage —
    // streaming↔lifecycle symmetry closed for ALL appendable indexes:
    // each stream-grown index must probe identically to its
    // built-at-once twin, so each shares that twin's oracle verbatim
    "containment_stream_ingested" -> ((s, d) =>
      Dedup.containmentPairsIndexed(s, containStreamIdxTable(s, d),
        Tables.documents(s, d))),
    "bm25_stream_ingested" -> ((s, d) =>
      Corpus.bm25FromIndex(s, bm25StreamIdxTable(s, d))),
    "media_stream_ingested" -> ((s, d) =>
      Multimodal.mediaNearDupIndexed(s, mediaStreamIdxTable(s, d))),
    "embed_stream_ingested" -> ((s, d) => {
      assertEmbedOracleGeometry(s, d)
      Dedup.embeddingNearDupIndexed(
        s, embedStreamIdxTable(s, d), Tables.embeddings(s, d))
    }),
    // COMPACTION, oracle-gated (previously spec-only): tombstoned
    // takedowns folded into fresh bucketed files (compactMinhashIndex;
    // the builder asserts the rewrite physically happened), then the
    // SAME probe as the uncompacted index — the oracle is the exact
    // pairs among the surviving docs, so probe-after-compact ≡
    // probe-before-minus-deleted
    "dedup_lsh_compacted" -> ((s, d) =>
      Dedup.minhashLshIndexed(s, minhashCompactIdx(s, d),
        Tables.documents(s, d))),
    // the maintenance ADVISOR over real deferred debt: a cluster index
    // with a pending takedown slice — counts, tombstone pressure in
    // integer bp, staged/lease leftovers, and the compact/recover/ok
    // recommendation (the "when to compact" read as a query)
    "index_maintenance_report" -> ((s, d) =>
      graft.sources.IndexMaintenance.maintenanceReport(
        s, clusterMaintTable(s, d))),
    // the PATH-BASED twin over the IVF layout (adds the retrain/staging
    // leftover class to the staged column)
    "ivf_maintenance_report" -> ((s, d) =>
      graft.sources.IndexMaintenance.maintenanceReportAt(
        s, ivfMaintIdx(s, d))),
    // the INCREMENTAL-INGEST path, oracle-gated (previously spec-only):
    // an arriving batch (doc_id ≡ 0 mod 13) checked against the
    // corpus-minus-batch index — only the batch is shingled/signed,
    // candidates come from the bucket join against the persisted bands
    "dedup_lsh_incremental" -> ((s, d) => {
      val docs = incrGateDocs(s, d)
      Dedup.minhashLshAgainstIndex(s, minhashIncrIndexTable(s, d),
        docs.filter(col("doc_id") % 13 === 0), docs)
    }),
    // the exact-SSJoin twin of the incremental gate: both containment
    // directions of the batch checked against the persisted token
    // index — pigeonhole-exact recall, so the brute-force asymmetric
    // oracle must match exactly
    "dedup_containment_incremental" -> ((s, d) => {
      val docs = incrGateDocs(s, d)
      Dedup.containmentAgainstIndex(s, containIncrIndexTable(s, d),
        docs.filter(col("doc_id") % 13 === 0), docs)
    }),
    // incremental cluster MAINTENANCE: the arriving batch's near-dup
    // edges (from the persisted band index + batch-local LSH) merge
    // into the persisted cluster assignment — corpus never re-shingled,
    // components only over the contracted batch∪touched-cluster graph;
    // the oracle is the full recursive-CTE components over the union
    "dedup_cluster_incremental" -> ((s, d) => {
      val docs = incrGateDocs(s, d)
      // ordering lives in the gate projection, not the operator (the
      // API output is corpus-sized; no production consumer sorts it)
      Dedup.clusterIncremental(s, minhashIncrIndexTable(s, d),
        clusterIncrIndexTable(s, d),
        docs.filter(col("doc_id") % 13 === 0),
        docs.filter(col("doc_id") % 13 =!= 0))
        .orderBy("doc_id")
    }),
    // the cluster-index INGEST-PERSIST gate: the same residue batch is
    // UPSERTED into the persisted corpus assignment (stale-mark merged
    // clusters + batch-sized append — never a corpus rewrite), then the
    // size histogram reads the live rows; the oracle re-clusters the
    // union from scratch, so the merged persisted state must be
    // indistinguishable from a full rebuild
    "cluster_upsert_stats" -> ((s, d) =>
      Dedup.clusterStatsFromIndex(s, clusterUpsertIndexTable(s, d))),
    // the STREAMING twin: the same batch merged through
    // clusterUpsertStream (foreachBatch → upsertClusterIndex under
    // batch-id idempotence) — shares the full-rebuild oracle verbatim
    "cluster_upsert_stream_ingested" -> ((s, d) =>
      Dedup.clusterStatsFromIndex(s, clusterUpsertStreamTable(s, d))),
    "dedup_keep_best_indexed" -> ((s, d) => Dedup.keepBestIndexed(s, clusterIdx(s, d))),
    "cluster_stats_indexed" -> ((s, d) => Dedup.clusterStatsFromIndex(s, clusterIdx(s, d))),
    "split_from_index" -> ((s, d) => Sampling.splitFromIndex(s, clusterIdx(s, d))),
    "dedup_weights_indexed" -> ((s, d) =>
      Dedup.dedupWeightsFromIndex(s, clusterIdx(s, d))),
    "weighted_sample_indexed" -> ((s, d) =>
      Dedup.weightedSampleFromIndex(s, clusterIdx(s, d))),
    "ann_ivf_indexed" -> ((s, d) =>
      Similarity.ivfTopKExactIndexed(s, ivfIdx(s, d), 7L, 20)),
    // the IVF incremental-ingest gate: the batch (vec_id ≡ 0 mod 13)
    // is appended to the corpus-trained index under the AGED codebook;
    // the exact-guarantee probe stays exact over the grown lists
    // (radii recomputed over live rows), so brute force over the
    // union — the whole embeddings table — is the correct oracle
    "ann_ivf_incremental" -> ((s, d) =>
      Similarity.ivfTopKExactIndexed(s, ivfIncrIdx(s, d), 7L, 20)),
    // the TWO-LEVEL index probe: same exact-guarantee machinery over
    // the coarse⋈fine-trained flat layout (assignment paid n·2√k·d at
    // ingest instead of n·k·d) — brute force stays the correct oracle
    "ann_ivf_twolevel" -> ((s, d) =>
      Similarity.ivfTopKExactIndexed(s, ivfTwoLevelIdx(s, d), 7L, 20)),
    // the two-level ingest loop: batch appended through the FACTORED
    // assignment (stored coarse book + the cell's ragged fine book) —
    // exact probe over the grown lists, brute force over the union
    "ann_ivf_twolevel_incremental" -> ((s, d) =>
      Similarity.ivfTopKExactIndexed(s, ivfTwoLevelIncrIdx(s, d), 7L, 20)),
    // drifted → takedown → retrained TWO-LEVEL (grid resized to live
    // count, factored structure preserved) — live-rows brute force
    "ann_ivf_twolevel_retrained" -> ((s, d) =>
      Similarity.ivfTopKExactIndexed(s, ivfTwoLevelRetrainIdx(s, d), 7L, 20)),
    // the factored STREAMING ingest stage — union brute force
    "ivf_twolevel_stream_ingested" -> ((s, d) =>
      Similarity.ivfTopKExactIndexed(s, ivfTwoLevelStreamIdx(s, d), 7L, 20)),
    // the full curation loop per micro-batch (admit → append → merge
    // components, one replay guard): the probe reads the component
    // size histogram over residue ∪ admitted
    "semantic_curation_stream_ingested" -> ((s, d) =>
      Dedup.clusterStatsFromIndex(s, semCurationTables(s, d))),
    // the assignment-COST measurement pair (the scaling audit's
    // flat-ceiling demonstration): per-list sizes under the flat
    // corpus-sized head codebook (n·k·d — quadratic under k ∝ n) vs
    // the factored two-level head books (n·2√k·d)
    "ivf_assign_flat" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      Similarity.assignListSizes(vecs, Similarity.headCodebookSized(vecs))
    }),
    "ivf_assign_twolevel" -> ((s, d) =>
      Similarity.twoLevelHeadListSizes(Tables.embeddings(s, d))),
    // a second name for ivf_assign_twolevel (same pass, same oracle),
    // kept so the gated key surface does not shrink
    "ivf_assign_twolevel_join" -> ((s, d) =>
      Similarity.twoLevelHeadListSizes(Tables.embeddings(s, d))),
    // the PATH-BASED streaming ingest twin: the batch appended through
    // ivfAppendStream (applied_batches-dir idempotence) instead of the
    // batch call — the exact-guarantee probe stays exact over the
    // stream-grown lists, so the union brute force is again the oracle
    "ivf_stream_ingested" -> ((s, d) =>
      Similarity.ivfTopKExactIndexed(s, ivfStreamIdx(s, d), 7L, 20)),
    // the drift-report gate: recall@k of the fixed-nProbe probe vs
    // exact cosine over the AGED seed-codebook index ([[ivfDriftIdx]])
    // — the retrain signal itself, oracle-verified end to end (DuckDB
    // replays assignment, probe selection, both top-k sides, and the
    // HALF_UP recall identity)
    "ann_drift_report" -> ((s, d) =>
      Similarity.ivfDriftReport(s, ivfDriftIdx(s, d))),
    // the retrain gate: probe the drifted → takedown → RETRAINED index
    // (codebook + assignment rebuilt over live rows in place, tombstones
    // folded) — the exact guarantee holds over the retrained lists, so
    // brute force over the live rows is the oracle
    "ann_retrained_probe" -> ((s, d) =>
      Similarity.ivfTopKExactIndexed(s, ivfRetrainIdx(s, d), 7L, 20)),
    // PATH-based compaction gated (compactAt: live rows rewritten in
    // the list-partitioned layout, dir swap, tombstones dropped — the
    // builder asserts the rewrite physically happened): exact probe
    // over the compacted index ≡ brute force over surviving vectors
    "ann_ivf_compacted" -> ((s, d) =>
      Similarity.ivfTopKExactIndexed(s, ivfCompactIdx(s, d), 7L, 20)),
    "dedup_simhash"     -> ((s, d) => Dedup.simhash(Tables.documents(s, d))),
    "ngram_jaccard"     -> ((s, d) => Dedup.ngramJaccard(Tables.documents(s, d))),
    "dedup_containment" -> ((s, d) => Dedup.containmentPairs(Tables.documents(s, d))),
    "dedup_containment_indexed" -> ((s, d) =>
      Dedup.containmentPairsIndexed(s, containmentIdx(s, d), Tables.documents(s, d))),
    "embed_cosine_dup"  -> ((s, d) => {
      assertEmbedOracleGeometry(s, d)
      Dedup.embeddingNearDup(Tables.embeddings(s, d))
    }),
    // the persisted-band-index twin: sign projections computed once at
    // ingest, candidate self-join rides the (band, bucket) bucket
    // layout with zero exchanges; shared oracle with the direct form
    "embed_neardup_indexed" -> ((s, d) => {
      assertEmbedOracleGeometry(s, d)
      Dedup.embeddingNearDupIndexed(
        s, embedBandIndexTable(s, d), Tables.embeddings(s, d))
    }),
    // the embedding incremental-ingest gate: an arriving vector batch
    // (vec_id ≡ 0 mod 13) projected at the width the corpus index
    // RECORDED (geometry from table properties), bucket-joined against
    // the persisted bands, cosine-verified
    "embed_neardup_incremental" -> ((s, d) => {
      assertEmbedOracleGeometry(s, d)
      val vecs = Tables.embeddings(s, d)
      Dedup.embeddingNearDupAgainstIndex(s, embedIncrIndexTable(s, d),
        vecs.filter(col("vec_id") % 13 === 0), vecs)
    }),
    "ann_cosine_topk"   -> ((s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d), 0L, 20)),
    "ann_filtered_topk" -> ((s, d) => Similarity.filteredTopK(Tables.embeddings(s, d), 0L, 20)),
    "ann_batch_topk"    -> ((s, d) => Similarity.batchTopK(Tables.embeddings(s, d))),
    "ann_lsh_topk"      -> ((s, d) => Similarity.lshTopK(Tables.embeddings(s, d), 0L, 20)),
    // exact-guarantee IVF (triangle-inequality pruning) — output is
    // provably the true top-k, so the oracle is plain brute force
    "ann_ivf_topk"      -> ((s, d) => Similarity.ivfTopKExact(Tables.embeddings(s, d), 7L, 20)),
    // retrieval at storage precision: top-k over the int8-quantized
    // table (integer dot/norms — the scales cancel in the cosine)
    "ann_int8_topk"     -> ((s, d) => Similarity.int8TopK(Tables.embeddings(s, d), 0L, 20)),
    // recall@k of int8 retrieval vs exact float cosine — zero-recall
    // queries still report (left join from the query list)
    "ann_recall_report" -> ((s, d) => Similarity.recallReport(Tables.embeddings(s, d))),
    // ranking-quality eval: exact-cosine top-k judged against the
    // label column — per query MRR + NDCG@10 in HALF_UP bp, DCG rank
    // weights baked 6dp integers shared verbatim with the oracle
    "retrieval_eval" -> ((s, d) =>
      Similarity.retrievalEval(Tables.embeddings(s, d))),
    // SemDeDup (cluster-partitioned semantic dedup) + the blocked kNN
    // graph: the gates pin the SQL-replayable head codebook (an oracle
    // can't replay k-means) at the CORPUS-SIZED k = max(16, ⌈n/256⌉) —
    // the same linear pair-volume geometry as the production trained
    // codebook ([[Similarity.semDedup]]/[[Similarity.knnGraph]]) — and
    // the corpus's 0.35 near-dup design threshold
    "semdedup_prune" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      Similarity.semDedupWith(vecs, Similarity.headCodebookSized(vecs))
    }),
    "semdedup_stats" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      Similarity.semDedupStats(vecs, Similarity.headCodebookSized(vecs))
    }),
    "knn_graph" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      Similarity.knnGraphWith(vecs, Similarity.headCodebookSized(vecs))
    }),
    // the persisted-assignment twin (same index as semdedup_indexed);
    // shared oracle
    "knn_graph_indexed" -> ((s, d) =>
      Similarity.knnGraphFromIndex(s, semIdx(s, d))),
    // the persisted-assignment twin: the nearest-centroid pass paid
    // once at ingest (IVF index layout under the same head codebook),
    // the prune reads list-partitioned rows — shared oracle
    "semdedup_indexed" -> ((s, d) =>
      Similarity.semDedupFromIndex(s, semIdx(s, d))),
    // the incremental ADMISSION gate: only the batch (vec_id ≡ 0 mod
    // 13) runs the assignment pass, the corpus side is read partition-
    // pruned to the touched lists; a batch vector is refused when any
    // admitted corpus vector in its list is within tau
    "semdedup_incremental" -> ((s, d) =>
      Similarity.semDedupAgainstIndex(s, semIncrIdx(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") % 13 === 0))),
    // components over the same within-list threshold graph: where
    // semdedup PRUNES, this GROUPS (cluster id = component min, the
    // dedup_cluster conventions) — plus its size histogram
    "semantic_clusters" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      Similarity.semanticClusters(vecs, Similarity.headCodebookSized(vecs))
    }),
    // the admission-gated STREAMING ingest loop, end to end: refuse
    // paraphrases against the index, append only novel vectors, and
    // the finished index's per-list counts must equal the SQL replay
    // of residue ∪ admitted
    "semantic_admission_ingest" -> ((s, d) =>
      Similarity.ivfListSizes(s, semAdmitIdx(s, d))),
    "semantic_cluster_stats" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      Similarity.semanticClusterStats(vecs, Similarity.headCodebookSized(vecs))
    }),
    // SoftDeDup on the semantic components: downweight, don't delete
    "semantic_weights" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      Similarity.semanticWeights(vecs, Similarity.headCodebookSized(vecs))
    }),
    // the persisted-components twins: components computed once at
    // ingest (cluster-index lifecycle on embedding space), consumers
    // read the narrow cluster_id-bucketed table — shared oracles
    "semantic_stats_indexed" -> ((s, d) =>
      Dedup.clusterStatsFromIndex(s, semClusterIdx(s, d))),
    "semantic_weights_indexed" -> ((s, d) =>
      Similarity.semanticWeightsFromIndex(s, semClusterIdx(s, d))),
    // the semantic-components INGEST-PERSIST gate: the batch's τ-edges
    // merge into the persisted components in place (stale-mark + batch-
    // sized re-append through the same bucket spec), then the size
    // histogram reads the live rows; the oracle recomputes components
    // over ALL rows assigned under the residue codebook, so the merged
    // persisted state must be indistinguishable from a full rebuild
    "semantic_upsert_stats" -> ((s, d) =>
      Dedup.clusterStatsFromIndex(s, semClusterUpsertTable(s, d))),
    // the STREAMING twin (semanticUpsertStream) — shared oracle
    "semantic_upsert_stream_ingested" -> ((s, d) =>
      Dedup.clusterStatsFromIndex(s, semUpsertStreamTable(s, d))),
    // CLUSTER-INDEX compaction gated: both side tables folded into
    // fresh bucketed files (the builder asserts the stale fold was
    // non-vacuous and the rewrite happened) — live rows must equal the
    // same full-rebuild oracle as before the compact
    "semantic_upsert_compacted" -> ((s, d) =>
      Dedup.clusterStatsFromIndex(s, semClusterUpsertCompactTable(s, d))),
    // the consumer proof: SoftDeDup weights read off the UPSERTED
    // index (narrow bucketed read, zero exchanges post-merge) must
    // equal the weights of a full re-cluster of the union
    "semantic_upsert_weights" -> ((s, d) =>
      Similarity.semanticWeightsFromIndex(s, semClusterUpsertTable(s, d))),
    // the FACTORED semantic family: the same prune/group/graph passes
    // over the two-level (coarse ⋈ fine) head-book assignment — the
    // corpus partitioning costs n·2√k·d instead of the flat n·k·d
    // (`ivf_assign_flat` vs `ivf_assign_twolevel` measures the gap);
    // the oracles replay the factored books + both argmin passes and
    // then share the flat twins' consumer CTEs verbatim
    "semdedup_twolevel" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      Similarity.semDedupTwoLevel(vecs, Similarity.headTwoLevelBooks(vecs))
    }),
    "semantic_clusters_twolevel" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      Similarity.semanticClustersTwoLevel(vecs,
        Similarity.headTwoLevelBooks(vecs))
    }),
    "semantic_weights_twolevel" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      Similarity.semanticWeightsTwoLevel(vecs,
        Similarity.headTwoLevelBooks(vecs))
    }),
    "knn_graph_twolevel" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      Similarity.knnGraphTwoLevel(vecs, Similarity.headTwoLevelBooks(vecs))
    }),
    // the FACTORED curation loop: the same admit → append → merge
    // streaming stage over a TWO-LEVEL residue index — every batch
    // pass routes batch·2√k·d through assignUnderIndex; the probe
    // reads the component size histogram over residue ∪ admitted
    "semantic_curation_twolevel_stream_ingested" -> ((s, d) =>
      Dedup.clusterStatsFromIndex(s, semCurationTwoLevelTables(s, d))),
    "embed_quantize"    -> ((s, d) => {
      val st = graft.plans.HashExprs.quantizeI8Stats(col("embedding"))
      Tables.embeddings(s, d).select(col("vec_id"), st.as("st"))
        .select(col("vec_id"), col("st.scale").as("scale"), col("st.l1").as("l1"),
          col("st.qmax").as("qmax"), col("st.qmin").as("qmin"))
        .orderBy("vec_id")
    }),
    // the quantized array itself (the storage artifact), exploded to
    // (vec_id, pos, q) rows so the oracle can value-compare it
    "embed_quantize_values" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(graft.plans.HashExprs.quantizeI8(col("embedding"))))
        .select(col("vec_id"), col("pos"), col("col").cast("int").as("q"))
        .orderBy("vec_id", "pos")),
    "embed_l2_normalize" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(graft.plans.HashExprs.l2Normalize(col("embedding"))))
        .select(col("vec_id"), col("pos"), round(col("col"), 6).as("nv"))
        .orderBy("vec_id", "pos")),
    "lang_id"           -> ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
    "lang_confusion"    -> ((s, d) => TextAnalysis.langConfusion(Tables.documents(s, d))),
    "lang_segments"     -> ((s, d) => TextAnalysis.langSegments(Tables.documents(s, d))),
    "quality_score"     -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    "token_count"       -> ((s, d) => TextAnalysis.tokenCount(Tables.documents(s, d))),
    "text_clean"        -> ((s, d) => TextAnalysis.textClean(Tables.documents(s, d))),
    "fingerprint"       -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "sample_stratified" -> ((s, d) => Sampling.stratified(Tables.documents(s, d))),
    "sample_target_mix" -> ((s, d) => Sampling.targetMix(Tables.documents(s, d))),
    "sample_recency"    -> ((s, d) => Sampling.recency(Tables.documents(s, d))),
    "sample_temperature" -> ((s, d) => Sampling.temperatureMix(Tables.documents(s, d))),
    "mix_token_budget"  -> ((s, d) => Sampling.tokenBudgetMix(Tables.documents(s, d))),
    "sample_fixed_k"    -> ((s, d) => Sampling.fixedK(Tables.documents(s, d))),
    "curriculum_order"  -> ((s, d) => Corpus.curriculumOrder(Tables.documents(s, d))),
    "split_leakage_safe" -> ((s, d) => Sampling.leakageSafeSplit(Tables.documents(s, d))),
    "train_shards"      -> ((s, d) => Sampling.trainShards(Tables.documents(s, d))),
    "pack_sequences"    -> ((s, d) => Corpus.packSequences(Tables.documents(s, d))),
    "pack_efficiency"   -> ((s, d) => Corpus.packEfficiency(Tables.documents(s, d))),
    "pack_sequences_bpe" -> ((s, d) =>
      Corpus.packSequencesBpe(Tables.documents(s, d), bpeGateMerges)),
    "chunk_documents"   -> ((s, d) => Corpus.chunkDocuments(Tables.documents(s, d))),
    "rarity_score"      -> ((s, d) => Corpus.rarityScore(Tables.documents(s, d))),
    "quality_repetition" -> ((s, d) => TextAnalysis.repetition(Tables.documents(s, d))),
    // Gopher-style named rule gate: per-rule booleans + keep, all
    // integer basis points — the reason histogram is the tuning artifact
    "gopher_rules"      -> ((s, d) => TextAnalysis.gopherRules(Tables.documents(s, d))),
    // unigram entropy / corpus-unigram logprob (perplexity proxy):
    // log terms rounded to 6dp then summed as exact DECIMAL — a double
    // sum of logs is merge-order-dependent and would flake the hash
    "doc_entropy"       -> ((s, d) => Corpus.docEntropy(Tables.documents(s, d))),
    "doc_logprob"       -> ((s, d) => Corpus.docLogprob(Tables.documents(s, d))),
    "pii_scrub"         -> ((s, d) => TextAnalysis.piiScrub(Tables.customer(s, d))),
    "vocab_topk"        -> ((s, d) => Corpus.vocabTopK(Tables.documents(s, d))),
    "oov_rate"          -> ((s, d) => Corpus.oovRate(Tables.documents(s, d), 25)),
    "vocab_bigrams"     -> ((s, d) => Corpus.bigramTopK(Tables.documents(s, d))),
    "bpe_pair_counts"   -> ((s, d) => Corpus.bpePairCounts(Tables.documents(s, d))),
    "bpe_encode"        -> ((s, d) =>
      Corpus.bpeEncodeDocs(Tables.documents(s, d), bpeGateMerges)),
    // tokens-per-word by (lang, source) — the word→token budget
    // converter; same pinned merge list as bpe_encode
    "fertility_report"  -> ((s, d) =>
      Corpus.fertilityReport(Tables.documents(s, d), bpeGateMerges)),
    "length_histogram"  -> ((s, d) => Corpus.lengthHistogram(Tables.documents(s, d))),
    "corpus_report"     -> ((s, d) => Corpus.report(Tables.documents(s, d))),
    "decontaminate"     -> ((s, d) => Corpus.decontaminate(Tables.documents(s, d))),
    "contamination_report" -> ((s, d) => Corpus.contaminationReport(Tables.documents(s, d))),
    "decontaminate_semantic" -> ((s, d) => Corpus.decontaminateSemantic(Tables.embeddings(s, d))),
    "corpus_keep_list"  -> ((s, d) => Corpus.keepList(Tables.documents(s, d))),
    "curation_funnel"  -> ((s, d) => Corpus.curationFunnel(Tables.documents(s, d))),
    "corpus_curated"    -> ((s, d) => Corpus.curated(Tables.documents(s, d))),
    "tfidf_top_terms"   -> ((s, d) => Corpus.tfidfTopTerms(Tables.documents(s, d))),
    "bm25_topk"         -> ((s, d) => Corpus.bm25TopK(Tables.documents(s, d))),
    "bm25_indexed"      -> ((s, d) => Corpus.bm25FromIndex(s, bm25Idx(s, d))),
    // deterministic overlapping splits: every doc_id ≡ 0 (mod 6) is in
    // BOTH sides, so the content anti-join has real work to do
    "content_delta"     -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextPipeline.contentDelta(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 2 === 0))
    }),
    // same snapshot stand-ins as content_delta: %2 = previous crawl,
    // %3 = current crawl (docs with doc_id % 6 = 0 are in both)
    "corpus_drift"      -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextPipeline.snapshotDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 3 === 0))
    }),
    // §G driver-verified multimodal: the full decode → phash → band →
    // hamming pipeline over a synthetic binary corpus whose near-dups
    // are real (shared 32-byte payload + one distinguishing byte per
    // group of 20); the oracle replays every stage exactly
    "media_phash_neardup" -> ((s, d) =>
      Multimodal.mediaNearDup(Multimodal.gateMedia(Tables.documents(s, d)))),
    // the persisted-phash-index twin: decode + phash paid once at
    // ingest, the candidate self-join AND the hamming verify ride the
    // co-bucketed index (phash is index-resident); shared oracle
    "media_phash_indexed" -> ((s, d) =>
      Multimodal.mediaNearDupIndexed(s, mediaPhashIndexTable(s, d))),
    // the media incremental-ingest gate: only the arriving batch is
    // decoded + hashed, candidates come from the bucket join against
    // the corpus-minus-batch phash index, hamming verified in-row
    "media_phash_incremental" -> ((s, d) =>
      Multimodal.mediaNearDupAgainstIndex(s, mediaPhashIncrIndexTable(s, d),
        Multimodal.gateMedia(Tables.documents(s, d))
          .filter(col("media_id") % 13 === 0))),
    // the banding-crossover pair on the REALISTIC-dup-rate corpus
    // (~1.5% twins instead of gateMedia's saturated 20-groups): each
    // scheme forced, identical output (both pigeonhole-exact — one
    // shared brute-force oracle); the scaling audit times these two at
    // 10x to MEASURE the chunk-vs-combo crossover the operator docs
    // argue from collision algebra. maxHamming = 2, not 7: the
    // constructed twins (one byte over 33) land at hamming <= 2, while
    // the sha-uniform histograms' biased sign bits put a long
    // ACCIDENTAL tail into 3-7 (625 pairs at exactly 7 on 500 docs) —
    // at 2 the output is the intended twin set, and the banding cost
    // being measured is threshold-independent
    "media_phash_realistic_chunk" -> ((s, d) =>
      Multimodal.mediaNearDupWith(
        Multimodal.realisticMedia(Tables.documents(s, d)), 2, combo = false)),
    "media_phash_realistic_combo" -> ((s, d) =>
      Multimodal.mediaNearDupWith(
        Multimodal.realisticMedia(Tables.documents(s, d)), 2, combo = true)),
    // exact media dedup by payload digest: seeds collide by design
    // (doc_id % 7), so byte-identical payloads really exist and the
    // canonical-min contract is exercised on real groups. The digest
    // column is dropped from the gate only because DuckDB's md5()
    // lacks a BLOB overload — grouping by the seed class is
    // equivalent (sha256 is injective over the 7 seeds) and the
    // digest grouping still runs on the Spark side.
    "media_exact_dup" -> ((s, d) =>
      Multimodal.mediaExactDup(Multimodal.synthesize(
        Tables.documents(s, d).withColumn("seed", pmod(col("doc_id"), lit(7))),
        "doc_id", "seed")).drop("digest"))
  )

  // DuckDB-dialect oracles. Conventions shared with the Spark side:
  // monetary sums via DECIMAL (exact, order-independent — double sums
  // drift with partition merge order); avg/std derived from the exact
  // sums with an identical double expression tree; rounded floats
  // (4dp avg/std/ratios), counts BIGINT, timestamps as strings.

  /** Oracle for one rollup grain: decimal-exact sums, avg = sum/n,
    * sample std via the sum-of-squares identity — mirrors
    * [[graft.operators.Rollups]].grain exactly.
    */
  private def weightedSampleOracle: String = {
    val hv = (0 until 8).map { i =>
      val mult = 1L << (4 * (7 - i))
      s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
    }.mkString(" +\n")
    s"""WITH RECURSIVE $clusterCtes,
       |cl AS (SELECT d.doc_id, coalesce(least(l.mr, d.doc_id), d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
       |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1),
       |h AS (SELECT cl.doc_id, cl.cluster_id, sz.cluster_size,
       |  md5(CAST(cl.doc_id AS VARCHAR)) AS hx FROM cl JOIN sz USING (cluster_id)),
       |k AS (SELECT doc_id, cluster_id, cluster_size,
       |  CAST(($hv) % 100 AS INT) AS bucket FROM h)
       |SELECT doc_id, cluster_id, cluster_size, bucket FROM k
       |WHERE bucket * 10000 < 1000000 // cluster_size
       |ORDER BY doc_id""".stripMargin
  }

  /** Exact DuckDB replay of the media phash pipeline over
    * [[graft.operators.Multimodal.gateMedia]]'s synthetic corpus —
    * the §G multimodal driver gate. Every stage is re-derived, not
    * approximated: payload bytes from sha256 hex (histogram bins are
    * the FIRST hex nibble of each byte, because histSize=16 makes
    * bin = byte >> 4) plus the one distinguishing byte (doc_id % 256,
    * bin = //16); features cnt/33.0; the 64 hyperplane dot products
    * with the SAME LCG constants the Spark expression uses (embedded
    * as literals at oracle-build time), summed in the same
    * left-to-right index order so the float trajectories are
    * bit-identical and sign decisions can never diverge; 8×8-bit
    * band buckets; candidate pairs within (band, bucket, modality);
    * exact hamming ≤ 7.
    */
  private def phashOracleSql: String =
    phashOracleSqlWith("AND x.media_id < y.media_id")

  /** The media incremental gate shares the full phash replay with the
    * asymmetric (batch = media_id ≡ 0 mod 13, corpus = rest)
    * candidate condition and the operator's (a = batch, b = indexed)
    * orientation.
    */
  private def phashIncrOracleSql: String =
    phashOracleSqlWith("AND x.media_id % 13 = 0 AND y.media_id % 13 <> 0")

  /** The realistic-dup-rate corpus ([[Multimodal.realisticMedia]]):
    * full replay of the spike-run payloads — per-bin counts
    * k_b = strpos(hexd, sha char 2b+1) ∈ 1..16 plus the
    * distinguishing byte's bin, histogram length 1 + Σ k_b. One
    * oracle serves BOTH forced-scheme keys — chunk and combo banding
    * are each pigeonhole-exact, so their outputs are identical by
    * construction (spec-pinned) and brute force is the shared
    * scheme-independent ground truth. maxHamming = 2: twins (one
    * count over ~137 moved) stay under it; unrelated docs are random
    * 16-dim points, far apart.
    */
  private def phashRealisticOracleSql: String = {
    val planes = graft.operators.Dedup.hyperplanes(64, 16)
    val hexd = "0123456789abcdef"
    val grp = "CASE WHEN doc_id % 67 = 3 THEN doc_id - 3 ELSE doc_id END"
    val ks = (0 until 16).map { b =>
      s"strpos('$hexd', substr(h, ${2 * b + 1}, 1)) AS k$b"
    }.mkString(", ")
    val n = (0 until 16).map(b => s"k$b").mkString(" + ")
    val cnts = (0 until 16).map { b =>
      s"k$b + CASE WHEN ebin = $b THEN 1 ELSE 0 END AS c$b"
    }.mkString(", ")
    val bits = (0 until 64).map { p =>
      val dot = (0 until 16).map { i =>
        s"(CAST(c$i AS DOUBLE) / n - 0.0625) * ${java.lang.Double.toString(planes(p)(i))}"
      }.mkString(" + ")
      s"CASE WHEN $dot >= 0 THEN 1 ELSE 0 END AS b$p"
    }.mkString(",\n")
    val ham = (0 until 64).map(p => s"abs(x.b$p - y.b$p)").mkString(" + ")
    s"""WITH m AS (SELECT doc_id AS media_id, doc_id % 3 AS mod3,
       |  sha256(CAST($grp AS VARCHAR)) AS h, (doc_id % 256) // 16 AS ebin FROM documents),
       |k AS (SELECT media_id, mod3, ebin, $ks FROM m),
       |cnt AS (SELECT media_id, mod3, CAST(1 + $n AS DOUBLE) AS n, $cnts FROM k),
       |bits AS (SELECT media_id, mod3,
       |$bits
       |FROM cnt)
       |SELECT a, b, hamming FROM (
       |  SELECT x.media_id AS a, y.media_id AS b, CAST($ham AS INTEGER) AS hamming
       |  FROM bits x JOIN bits y ON x.mod3 = y.mod3 AND x.media_id < y.media_id)
       |WHERE hamming <= 2 ORDER BY a, b""".stripMargin
  }

  /** The phash replay: decode stub (byte histogram from the sha256
    * payload) → sign-projection bits → EXACT hamming over all
    * same-modality pairs. The operator's banding stage is deliberately
    * NOT replayed: both Spark banding schemes (8-chunk and 3-of-10
    * block combinations — corpus-adaptive since round 12) are
    * pigeonhole-EXACT at hamming ≤ 7, so candidates ⊇ every emitted
    * pair and brute force is the scheme-independent ground truth —
    * which is exactly what lets the operator pick its banding by
    * corpus size without touching this oracle.
    */
  private def phashOracleSqlWith(pairCond: String,
                                 groupSql: String = "doc_id // 20",
                                 maxHamming: Int = 7): String = {
    val planes = graft.operators.Dedup.hyperplanes(64, 16)
    val hexd = "0123456789abcdef"
    val cnts = (0 until 16).map { b =>
      s"len(list_filter(ns, x -> x = '${hexd(b)}')) + CASE WHEN ebin = $b THEN 1 ELSE 0 END AS c$b"
    }.mkString(", ")
    val bits = (0 until 64).map { p =>
      val dot = (0 until 16).map { i =>
        s"(CAST(c$i AS DOUBLE) / 33.0 - 0.0625) * ${java.lang.Double.toString(planes(p)(i))}"
      }.mkString(" + ")
      s"CASE WHEN $dot >= 0 THEN 1 ELSE 0 END AS b$p"
    }.mkString(",\n")
    val ham = (0 until 64).map(p => s"abs(x.b$p - y.b$p)").mkString(" + ")
    s"""WITH m AS (SELECT doc_id AS media_id, doc_id % 3 AS mod3,
       |  sha256(CAST($groupSql AS VARCHAR)) AS h, (doc_id % 256) // 16 AS ebin FROM documents),
       |nib AS (SELECT media_id, mod3, ebin,
       |  list_transform(generate_series(0, 31), i -> substr(h, 2 * i + 1, 1)) AS ns FROM m),
       |cnt AS (SELECT media_id, mod3, $cnts FROM nib),
       |bits AS (SELECT media_id, mod3,
       |$bits
       |FROM cnt)
       |SELECT a, b, hamming FROM (
       |  SELECT x.media_id AS a, y.media_id AS b, CAST($ham AS INTEGER) AS hamming
       |  FROM bits x JOIN bits y ON x.mod3 = y.mod3 $pairCond)
       |WHERE hamming <= $maxHamming ORDER BY a, b""".stripMargin
  }

  private def rsiOracle: String =
    """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
      |  CAST(CAST(max_by(round(value, 2),
      |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
      |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |d AS (SELECT user_id, day, c - lag(c) OVER (PARTITION BY user_id ORDER BY day) AS delta FROM dc),
      |f AS (SELECT user_id, day,
      |  sum(greatest(delta, 0)) OVER w AS g,
      |  sum(greatest(-delta, 0)) OVER w AS l,
      |  count(*) OVER w AS nd
      |  FROM d WHERE delta IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT user_id, day,
      |  CAST(CASE WHEN g + l = 0 THEN 5000
      |       ELSE (2 * g * 10000 + (g + l)) // (2 * (g + l)) END AS BIGINT) AS rsi_bp
      |FROM f WHERE nd = 14 ORDER BY user_id, day""".stripMargin

  private def grainOracle(fmt: String, tag: String): String =
    s"""SELECT strftime(o_orderdate, '$fmt') AS period_key, '$tag' AS agg_type, o_custkey AS entity_id,
       |CAST((CASE WHEN sum(v) < 0 THEN -1 ELSE 1 END) * ((abs(CAST(sum(v) * 100 AS HUGEINT)) * 200 + count(*)) // (count(*) * 2)) AS DOUBLE) / 10000 AS avg_value,
       |CAST(sum(v) AS DOUBLE) AS sum_value,
       |CAST(max(v) AS DOUBLE) AS max_value, CAST(min(v) AS DOUBLE) AS min_value,
       |CASE WHEN count(*) > 1 THEN round(sqrt(greatest((CAST(sum(v*v) AS DOUBLE) - CAST(sum(v) AS DOUBLE)*CAST(sum(v) AS DOUBLE)/count(*)) / (count(*)-1), 0)), 4) END AS std_value,
       |count(*) AS cnt_value
       |FROM (SELECT o_orderdate, o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders)
       |GROUP BY 1, 2, 3""".stripMargin

  /** Brute-force shingle-set Jaccard pairs in DuckDB — the oracle for
    * the LSH-accelerated dedup queries. Computes TRUE Jaccard over all
    * pairs sharing ≥1 shingle (any pair at J ≥ threshold shares
    * shingles, so this is complete), with the exact shingle definition
    * of [[graft.plans.HashExprs.foreachShingleHash]]: texts shorter
    * than one shingle contribute the whole text as a single shingle.
    * The final division is the same two ints divided in double on both
    * engines → bit-identical.
    *
    * This equals the Spark LSH output iff LSH recall is 100% at the
    * threshold on the gate data — which holds with margin: at sf0.01
    * every true pair has J ≥ 0.92 (8×8 bands catch those with
    * per-pair miss ≈ 1e-3, and the signature is deterministic, so
    * "caught" is a fixed property of the data, verified empirically)
    * and the next pair down is at J ≈ 0.31, far below threshold.
    */
  private def jaccardPairsOracle(word: Boolean, k: Int, threshold: Double,
                                 rel: String = "documents"): String = {
    val shingles =
      if (word)
        s"CASE WHEN len(w) <= $k THEN [nt] ELSE list_transform(range(1, len(w) - ${k - 2}), i -> array_to_string(list_slice(w, i, i + ${k - 1}), ' ')) END"
      else
        s"CASE WHEN length(nt) <= $k THEN [nt] ELSE list_transform(range(1, length(nt) - ${k - 2}), i -> substring(nt, i, $k)) END"
    s"""WITH nrm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt FROM $rel),
       |base AS (SELECT doc_id, nt, string_split(nt, ' ') AS w FROM nrm),
       |sh AS (SELECT doc_id, unnest(list_distinct($shingles)) AS s FROM base),
       |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |ipair AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT a, b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
       |FROM ipair JOIN card ca ON ipair.a = ca.doc_id JOIN card cb ON ipair.b = cb.doc_id
       |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= $threshold""".stripMargin
  }

  /** Incremental-LSH oracle: exact char-5 jaccard pairs between the
    * batch residue class (doc_id ≡ 0 mod 13) and the rest of the
    * corpus — the asymmetric analog of [[jaccardPairsOracle]], pair
    * orientation (a = batch, b = indexed corpus) matching the
    * operator's output contract.
    */
  /** The [[incrGateDocs]] augmentation in DuckDB: corpus ∪ derived
    * batch twins (id 13·(10⁶ + seed), identical text).
    */
  private val incrGateDocsSql: String =
    """(SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT 13 * (1000000 + doc_id) AS doc_id, text FROM documents
      |  WHERE doc_id % 13 <> 0 AND doc_id % 101 = 7)""".stripMargin

  private val lshIncrementalOracle: String = {
    val k = 5
    val shingles =
      s"CASE WHEN length(nt) <= $k THEN [nt] ELSE list_transform(range(1, length(nt) - ${k - 2}), i -> substring(nt, i, $k)) END"
    s"""WITH nrm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt FROM $incrGateDocsSql),
       |sh AS (SELECT doc_id, unnest(list_distinct($shingles)) AS s FROM nrm),
       |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |ipair AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
       |  FROM sh x JOIN sh y ON x.s = y.s
       |  WHERE x.doc_id % 13 = 0 AND y.doc_id % 13 <> 0
       |  GROUP BY 1, 2)
       |SELECT a, b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
       |FROM ipair JOIN card ca ON ipair.a = ca.doc_id
       |JOIN card cb ON ipair.b = cb.doc_id
       |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5
       |ORDER BY a, b""".stripMargin
  }

  /** Incremental-containment oracle: exact word-5-shingle containment
    * pairs between the batch residue class and the rest of the corpus
    * — the asymmetric analog of [[containmentPairsOracle]] with the
    * operator's (new_doc_id = batch, corpus_doc_id = indexed) output
    * contract. Exact recall is the SSJoin family's guarantee, so the
    * brute-force pair set must match exactly.
    */
  private val containmentIncrementalOracle: String = {
    val k = 5
    val shingles =
      s"CASE WHEN len(w) <= $k THEN [nt] ELSE list_transform(range(1, len(w) - ${k - 2}), i -> array_to_string(list_slice(w, i, i + ${k - 1}), ' ')) END"
    s"""WITH nrm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt FROM $incrGateDocsSql),
       |base AS (SELECT doc_id, nt, string_split(nt, ' ') AS w FROM nrm),
       |sh AS (SELECT doc_id, unnest(list_distinct($shingles)) AS s FROM base),
       |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |ipair AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
       |  FROM sh x JOIN sh y ON x.s = y.s
       |  WHERE x.doc_id % 13 = 0 AND y.doc_id % 13 <> 0
       |  GROUP BY 1, 2)
       |SELECT a AS new_doc_id, b AS corpus_doc_id,
       |  CAST(i AS DOUBLE) / least(ca.n, cb.n) AS containment
       |FROM ipair JOIN card ca ON ipair.a = ca.doc_id
       |JOIN card cb ON ipair.b = cb.doc_id
       |WHERE CAST(i AS DOUBLE) / least(ca.n, cb.n) >= 0.8
       |ORDER BY new_doc_id, corpus_doc_id""".stripMargin
  }

  /** Edit-distance refinement oracle: the [[jaccardPairsOracle]]
    * candidate CTEs (char-5 shingles, jaccard ≥ floor) re-scored by
    * DuckDB's levenshtein — the same classic DP Spark implements, so
    * distances and the integer bp identity match exactly.
    */
  private def editPairsOracle(k: Int, floor: Double, minSimBp: Long): String = {
    val shingles =
      s"CASE WHEN length(nt) <= $k THEN [nt] ELSE list_transform(range(1, length(nt) - ${k - 2}), i -> substring(nt, i, $k)) END"
    s"""WITH nrm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct($shingles)) AS s FROM nrm),
       |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |ipair AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
       |jp AS (SELECT a, b FROM ipair
       |  JOIN card ca ON ipair.a = ca.doc_id JOIN card cb ON ipair.b = cb.doc_id
       |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= $floor),
       |l AS (SELECT a, b, CAST(levenshtein(na.nt, nb.nt) AS BIGINT) AS lev,
       |    CAST(greatest(length(na.nt), length(nb.nt)) AS BIGINT) AS maxlen
       |  FROM jp JOIN nrm na ON a = na.doc_id JOIN nrm nb ON b = nb.doc_id)
       |SELECT a, b, lev,
       |  CAST(((maxlen - lev) * 10000 * 2 + maxlen) // (2 * maxlen) AS BIGINT) AS sim_bp
       |FROM l WHERE ((maxlen - lev) * 10000 * 2 + maxlen) // (2 * maxlen) >= $minSimBp
       |ORDER BY a, b""".stripMargin
  }

  /** Brute-force shingle-set CONTAINMENT pairs — oracle for
    * dedup_containment. Same shingle CTEs as [[jaccardPairsOracle]];
    * the score divides the intersection by the SMALLER cardinality.
    * The Spark side is exact (prefix filtering loses nothing), so the
    * outputs must match row-for-row; the final division is the same
    * two ints divided in double on both engines → bit-identical.
    */
  private def containmentPairsOracle(word: Boolean, k: Int, threshold: Double): String = {
    val shingles =
      if (word)
        s"CASE WHEN len(w) <= $k THEN [nt] ELSE list_transform(range(1, len(w) - ${k - 2}), i -> array_to_string(list_slice(w, i, i + ${k - 1}), ' ')) END"
      else
        s"CASE WHEN length(nt) <= $k THEN [nt] ELSE list_transform(range(1, length(nt) - ${k - 2}), i -> substring(nt, i, $k)) END"
    s"""WITH nrm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt FROM documents),
       |base AS (SELECT doc_id, nt, string_split(nt, ' ') AS w FROM nrm),
       |sh AS (SELECT doc_id, unnest(list_distinct($shingles)) AS s FROM base),
       |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |ipair AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
       |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT a, b, CAST(i AS DOUBLE) / least(ca.n, cb.n) AS containment
       |FROM ipair JOIN card ca ON ipair.a = ca.doc_id JOIN card cb ON ipair.b = cb.doc_id
       |WHERE CAST(i AS DOUBLE) / least(ca.n, cb.n) >= $threshold""".stripMargin
  }

  /** Connected components over the brute-force near-dup pairs
    * (recursive transitive closure — components are tiny relative to
    * the corpus, so the closure stays small), giving every document
    * the min doc_id of its component; edgeless docs are their own
    * singleton. Mirrors [[graft.operators.Dedup.minhashClusters]].
    */
  private def clusterCtes: String = clusterCtesOver("documents")

  /** [[clusterCtes]] over an arbitrary (doc_id, text) relation — the
    * incremental gate runs the same recursive components over the
    * corpus ∪ batch-twins union.
    */
  private def clusterCtesOver(rel: String): String =
    s"""jp AS (${jaccardPairsOracle(word = false, k = 5, threshold = 0.5, rel)}),
       |edges AS (SELECT a, b FROM jp UNION SELECT b, a FROM jp),
       |reach AS (SELECT a AS doc_id, b AS r FROM edges
       |  UNION SELECT e.a AS doc_id, reach.r FROM edges e JOIN reach ON e.b = reach.doc_id),
       |lbl AS (SELECT doc_id, min(r) AS mr FROM reach GROUP BY doc_id)""".stripMargin

  private def clusterOracle: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT d.doc_id,
       |coalesce(least(l.mr, d.doc_id), d.doc_id) AS cluster_id,
       |(coalesce(least(l.mr, d.doc_id), d.doc_id) = d.doc_id) AS is_canonical
       |FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id""".stripMargin

  /** Oracle for dedup_cluster_incremental: the SAME recursive
    * components as [[clusterOracle]], over the corpus ∪ batch-twins
    * union — the incremental merge must be indistinguishable from
    * re-clustering the whole unioned set.
    */
  private def clusterIncrOracle: String =
    s"""WITH RECURSIVE ${clusterCtesOver(incrGateDocsSql)}
       |SELECT d.doc_id,
       |coalesce(least(l.mr, d.doc_id), d.doc_id) AS cluster_id,
       |(coalesce(least(l.mr, d.doc_id), d.doc_id) = d.doc_id) AS is_canonical
       |FROM $incrGateDocsSql d LEFT JOIN lbl l ON d.doc_id = l.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Oracle for cluster_upsert_stats: the [[clusterStatsOracle]]
    * histogram over the corpus ∪ batch-twins union — the upserted
    * persisted assignment must be indistinguishable from re-clustering
    * the whole unioned set from scratch.
    */
  private def clusterUpsertStatsOracle: String =
    s"""WITH RECURSIVE ${clusterCtesOver(incrGateDocsSql)},
       |cl AS (SELECT d.doc_id, coalesce(least(l.mr, d.doc_id), d.doc_id) AS cluster_id
       |  FROM $incrGateDocsSql d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
       |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
       |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
       |  (cluster_size * count(*))::BIGINT AS n_docs
       |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for dedup_cluster_stats: the [[clusterOracle]] components
    * aggregated twice — per-cluster size, then size histogram.
    */
  private def clusterStatsOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |cl AS (SELECT d.doc_id, coalesce(least(l.mr, d.doc_id), d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
       |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
       |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
       |  (cluster_size * count(*))::BIGINT AS n_docs
       |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle for dedup_weights / dedup_weights_indexed: the
    * [[clusterOracle]] components with weight = floor(10⁶/size)/10⁶
    * — integer division, so no cross-engine rounding convention.
    */
  private def weightsOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |cl AS (SELECT d.doc_id, coalesce(least(l.mr, d.doc_id), d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
       |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
       |SELECT cl.doc_id, cl.cluster_id, sz.cluster_size,
       |  CAST(1000000 // sz.cluster_size AS DOUBLE) / 1000000.0 AS weight
       |FROM cl JOIN sz USING (cluster_id) ORDER BY cl.doc_id""".stripMargin

  /** Oracle for dedup_keep_best: brute-force components (same CTEs as
    * [[clusterOracle]]) joined to the quality expression of the
    * quality_score oracle, per-cluster argmax by (quality desc, id).
    */
  private def keepBestOracle: String =
    s"""WITH RECURSIVE $clusterCtes,
       |cl AS (SELECT d.doc_id, coalesce(least(l.mr, d.doc_id), d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
       |q AS (SELECT doc_id,
       |  CAST(((2 * least(len(string_split_regex(trim(text), '\\s+')), 100) * (10000 - (CASE WHEN length(text) > 0 THEN (2 * len(regexp_extract_all(text, '[.!?,;:]')) * 10000 + length(text)) // (2 * length(text)) ELSE 0 END)) + 100) // 200) AS DOUBLE) / 10000.0 AS quality
       |  FROM documents),
       |jn AS (SELECT cl.cluster_id, cl.doc_id, q.quality,
       |  row_number() OVER (PARTITION BY cl.cluster_id ORDER BY q.quality DESC, cl.doc_id) AS rn,
       |  count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
       |  FROM cl JOIN q ON cl.doc_id = q.doc_id)
       |SELECT cluster_id, doc_id AS keep_doc_id, n_members, quality AS best_quality
       |FROM jn WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** Brute-force SimHash pairs in DuckDB. The token hash is the first
    * 8 bytes of md5 (see [[graft.plans.HashExprs.md5Hash64]]), so the
    * oracle recomputes every signature bit from the md5 HEX digest:
    * bit b lives in hex digit pair 2·(7 − b div 8), shifted by
    * b mod 8. Spark's chunk banding is pigeonhole-exact at
    * hamming ≤ k, so brute force equals the operator output with no
    * recall assumption at all.
    */
  private def simhashOracle(maxHamming: Int): String =
    s"""WITH nrm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt FROM documents),
       |tok0 AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS t FROM nrm),
       |tok AS (SELECT doc_id, md5(t) AS h FROM tok0),
       |bits AS (SELECT doc_id, r.b AS b,
       |  CASE WHEN sum(CASE WHEN ((((strpos('0123456789abcdef', substring(h, 2 * (7 - r.b // 8) + 1, 1)) - 1) * 16
       |    + strpos('0123456789abcdef', substring(h, 2 * (7 - r.b // 8) + 2, 1)) - 1) >> (r.b % 8)) & 1) = 1
       |    THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
       |  FROM tok, range(64) r(b) GROUP BY doc_id, r.b),
       |ham AS (SELECT x.doc_id AS a, y.doc_id AS b,
       |  CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS INT) AS hamming
       |  FROM bits x JOIN bits y ON x.b = y.b AND x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT a, b, hamming FROM ham WHERE hamming <= $maxHamming""".stripMargin

  /** The sign-random-projection LSH replicated in SQL — a SEMANTIC
    * oracle for the embedding LSH queries (brute force can't work
    * here: the gate corpus has no cosine gap, so LSH recall < 1 by
    * design and only an independent re-implementation of the full
    * pipeline can verify the output). Each projection is the same
    * hyperplane literals ([[graft.operators.Dedup.hyperplanes]] —
    * dyadic rationals, so the shortest-round-trip decimal repr parses
    * back to the identical double) dotted in the same left-to-right
    * order as the compiled [[graft.plans.SignProjBitsExpr]] loop —
    * bit-identical IEEE arithmetic, no rounding tolerance needed.
    * Returns one SQL expression per plane evaluating to bit 0/1 over
    * a DOUBLE[] column `e`.
    */
  private def signBitExprs(nPlanes: Int, dim: Int): Seq[String] =
    Dedup.hyperplanes(nPlanes, dim).map { p =>
      val dot = p.zipWithIndex
        .map { case (c, i) => s"e[${i + 1}] * ($c)" }
        .mkString(" + ")
      s"CASE WHEN ($dot) >= 0 THEN 1 ELSE 0 END"
    }

  /** CTEs shared by the embedding-LSH oracles: vectors as DOUBLE[]
    * plus the 16 projection bits b0..b15 per vector.
    */
  private def signBitsCte: String = {
    val bitCols = signBitExprs(16, 64).zipWithIndex
      .map { case (e, p) => s"$e AS b$p" }.mkString(",\n  ")
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |bits AS (SELECT vec_id, e,
       |  $bitCols
       |  FROM v)""".stripMargin
  }

  /** Oracle for embed_cosine_dup: 4×4-bit band buckets from the
    * projection bits, pair join within buckets, exact-cosine verify —
    * the Spark plan re-expressed over DuckDB primitives.
    */
  private val rollingActiveUsersOracle: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
      |contrib AS (SELECT DISTINCT user_id, day + CAST(x AS INTEGER) AS wday
      |  FROM ud, generate_series(0, 27) g(x)),
      |mau AS (SELECT wday AS day, count(*) AS mau FROM contrib GROUP BY 1)
      |SELECT strftime(d.day, '%Y-%m-%d') AS day, dau, mau,
      |  CAST((dau * 10000 * 2 + mau) // (2 * mau) AS DOUBLE) / 10000.0
      |    AS stickiness
      |FROM dau d JOIN mau m USING (day) ORDER BY day""".stripMargin

  /** Unrolled power-iteration oracle: `iters` chained CTE blocks, each
    * replaying one Spark iteration — sequential-fold dot (list_reduce
    * starts at the first element; Spark's 0.0-seeded fold adds an
    * exact 0.0+x first step, so the float sequences are identical),
    * 6dp-rounded per-row contributions summed as exact DECIMAL, and a
    * 6dp re-normalized vector. The per-step rounding is what makes an
    * 8-step float trajectory hash-comparable across engines.
    */
  private def pcaPowerOracle(iters: Int, d: Int): String = {
    val v0 = java.math.BigDecimal.valueOf(1.0 / math.sqrt(d.toDouble))
      .setScale(6, java.math.RoundingMode.HALF_UP).toPlainString
    val sb = new StringBuilder
    sb.append("WITH emb AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),\n")
    sb.append(s"v0 AS MATERIALIZED (SELECT CAST(x AS INTEGER) AS dim, CAST($v0 AS DOUBLE) AS v FROM generate_series(0, ${d - 1}) g0(x))")
    for (t <- 1 to iters) {
      val p = t - 1
      sb.append(s""",
        |vl$t AS MATERIALIZED (SELECT list(v ORDER BY dim) AS vl FROM v$p),
        |d$t AS MATERIALIZED (SELECT e, round(list_reduce(list_transform(generate_series(1, $d), i -> e[i] * vl[i]), (a, b) -> a + b), 6) AS dot FROM emb, vl$t),
        |w$t AS MATERIALIZED (SELECT CAST(i - 1 AS INTEGER) AS dim, sum(CAST(round(e[i] * dot, 6) AS DECIMAL(28,6))) AS w FROM d$t, generate_series(1, $d) gs$t(i) GROUP BY 1),
        |n$t AS MATERIALIZED (SELECT sqrt(sum(CAST(w AS DOUBLE) * CAST(w AS DOUBLE))) AS nrm FROM w$t),
        |v$t AS MATERIALIZED (SELECT dim, round(CAST(w AS DOUBLE) / nrm, 6) AS v FROM w$t, n$t)""".stripMargin)
    }
    sb.append(s"""
      |SELECT dim, v + 0.0 AS component, round(nrm, 4) AS eigenvalue
      |FROM v$iters, n$iters ORDER BY dim""".stripMargin)
    sb.toString
  }

  private def embedNearDupOracle(threshold: Double): String = {
    def bucket(c: Int): String =
      (0 until 4).map(j => s"${1 << j} * b${4 * c + j}").mkString(" + ")
    s"""WITH $signBitsCte,
       |band AS (${(0 until 4).map(c =>
           s"SELECT vec_id, $c AS band, ${bucket(c)} AS bucket FROM bits")
           .mkString("\n  UNION ALL ")}),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM band x JOIN band y ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
       |SELECT a, b, round(list_cosine_similarity(va.e, vb.e), 4) AS cosine
       |FROM cand JOIN v va ON cand.a = va.vec_id JOIN v vb ON cand.b = vb.vec_id
       |WHERE round(list_cosine_similarity(va.e, vb.e), 4) >= $threshold""".stripMargin
  }

  /** Incremental embed near-dup oracle: the same band buckets with the
    * asymmetric (batch = vec_id ≡ 0 mod 13, corpus = rest) candidate
    * condition and the operator's (a = batch, b = indexed)
    * orientation.
    */
  private def embedNearDupIncrOracle(threshold: Double): String = {
    def bucket(c: Int): String =
      (0 until 4).map(j => s"${1 << j} * b${4 * c + j}").mkString(" + ")
    s"""WITH $signBitsCte,
       |band AS (${(0 until 4).map(c =>
           s"SELECT vec_id, $c AS band, ${bucket(c)} AS bucket FROM bits")
           .mkString("\n  UNION ALL ")}),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM band x JOIN band y ON x.band = y.band AND x.bucket = y.bucket
       |  WHERE x.vec_id % 13 = 0 AND y.vec_id % 13 <> 0)
       |SELECT a, b, round(list_cosine_similarity(va.e, vb.e), 4) AS cosine
       |FROM cand JOIN v va ON cand.a = va.vec_id JOIN v vb ON cand.b = vb.vec_id
       |WHERE round(list_cosine_similarity(va.e, vb.e), 4) >= $threshold
       |ORDER BY a, b""".stripMargin
  }

  /** Oracle for ann_lsh_topk: two 8-bit band buckets; score rows whose
    * bucket is within hamming 1 of the query's on either band
    * (multi-probe, mirroring [[graft.operators.Similarity.lshTopK]]);
    * top-k by (cos_sim desc, vec_id).
    */
  private def lshTopKOracle(queryId: Long, k: Int): String = {
    def key(c: Int): String =
      (0 until 8).map(j => s"${1 << j} * b${8 * c + j}").mkString(" + ")
    s"""WITH $signBitsCte,
       |bk AS (SELECT vec_id, e, ${key(0)} AS k0, ${key(1)} AS k1 FROM bits),
       |q AS (SELECT e AS qe, k0 AS qk0, k1 AS qk1 FROM bk WHERE vec_id = $queryId)
       |SELECT bk.vec_id, round(list_cosine_similarity(bk.e, q.qe), 4) + 0.0 AS cos_sim
       |FROM bk, q WHERE bk.vec_id <> $queryId
       |AND (bit_count(xor(bk.k0::BIGINT, q.qk0::BIGINT)) <= 1
       |  OR bit_count(xor(bk.k1::BIGINT, q.qk1::BIGINT)) <= 1)
       |ORDER BY cos_sim DESC, bk.vec_id LIMIT $k""".stripMargin
  }

  /** Oracle for decontaminate_semantic: the [[embedNearDupOracle]]
    * band/verify machinery with the benchmark/train split (vec_id %
    * 10) and the per-training-vector aggregate.
    */
  private def semanticDecontamOracle(benchMod: Int, threshold: Double): String = {
    def bucket(c: Int): String =
      (0 until 4).map(j => s"${1 << j} * b${4 * c + j}").mkString(" + ")
    s"""WITH $signBitsCte,
       |band AS (${(0 until 4).map(c =>
           s"SELECT vec_id, $c AS band, ${bucket(c)} AS bucket FROM bits")
           .mkString("\n  UNION ALL ")}),
       |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |  FROM band x JOIN band y ON x.band = y.band AND x.bucket = y.bucket
       |  WHERE NOT (x.vec_id % $benchMod = 0 AND x.vec_id < 500)
       |    AND y.vec_id % $benchMod = 0 AND y.vec_id < 500),
       |hits AS (SELECT a, round(list_cosine_similarity(va.e, vb.e), 4) AS cosine
       |  FROM cand JOIN v va ON cand.a = va.vec_id JOIN v vb ON cand.b = vb.vec_id
       |  WHERE round(list_cosine_similarity(va.e, vb.e), 4) >= $threshold)
       |SELECT a AS vec_id, count(*) AS n_bench_hits, max(cosine) AS max_cosine
       |FROM hits GROUP BY 1 ORDER BY vec_id""".stripMargin
  }

  /** Oracle for BM25 retrieval (scan and indexed forms): the same
    * fixed-point rational scoring in DuckDB (all-integer, so the
    * scores are engine-exact). Terms must match the operators'
    * default query.
    */
  /** Shared oracle prefix for the head-codebook cluster gates
    * (semdedup_prune/stats, knn_graph): the k = max(16, ⌈n/256⌉)
    * smallest vec_ids as centroids (the corpus-sized geometry the gate
    * pins — replayed with the same ceil/floor arithmetic), then every
    * row's nearest-list assignment via the SAME sequential-fold L2
    * argmin as the drift oracle — the IEEE chain NearestCentroidExpr
    * evaluates, ties to the lowest list. Ends mid-WITH (trailing
    * comma) so each gate appends its consumer CTEs.
    */
  private def headAssignCte: String = headAssignCteFor("")

  /** [[headAssignCte]] with the codebook drawn from a FILTERED slice
    * (e.g. the mod-13 residue for the incremental gate) while every
    * row — batch and corpus — is still assigned under it, exactly what
    * the persisted index stores plus the batch's compiled pass.
    */
  private def headAssignCteFor(cbWhere: String): String =
    s"""WITH cb AS (SELECT rn - 1 AS list_id, cent FROM (
       |    SELECT row_number() OVER (ORDER BY vec_id) AS rn,
       |      CAST(embedding AS DOUBLE[]) AS cent
       |    FROM embeddings $cbWhere)
       |  WHERE rn <= (SELECT greatest(16, CAST(ceil(count(*) / 256.0) AS BIGINT)) FROM embeddings $cbWhere)),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ad AS (SELECT ev.vec_id, cb.list_id,
       |  list_reduce(list_prepend(0.0, list_transform(generate_series(1, least(len(ev.v), len(cb.cent))),
       |    i -> (ev.v[i] - cb.cent[i]) * (ev.v[i] - cb.cent[i]))), (a, b) -> a + b) AS d2
       |  FROM ev CROSS JOIN cb),
       |asg AS (SELECT vec_id, list_id FROM (
       |  SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rn
       |  FROM ad) WHERE rn = 1),
       |""".stripMargin

  /** Shared CTE chain for the semantic-components oracles: the
    * head-codebook assignment ([[headAssignCte]], RECURSIVE-prefixed
    * for the reach CTE), the within-list τ-threshold edge set (the
    * semdedup pair set, symmetrized), and the clusterOracle
    * recursive-reach min-label. Ends after `lbl` WITHOUT a trailing
    * comma — callers append their SELECT (or `, cl AS ...`).
    */
  private def semanticClusterCtes: String = semanticClusterCtesFor("")

  /** Shared oracle prefix for the TWO-LEVEL head-book gates
    * (`ivf_assign_twolevel`, the factored semantic twins, the factored
    * curation loop): replay the head-derived factored books and the
    * two-pass assignment — grid g = ⌈√max(16, ⌈n/256⌉)⌉ over the
    * codebook slice (clamped at 4, the [[Similarity.twoLevelGrid]]
    * formula), coarse book = the slice's first g embeddings by vec_id,
    * coarse cell = sequential-fold L2 argmin (ties to the lowest id —
    * the NearestCentroidExpr IEEE chain), fine book per cell = the
    * cell's first g SLICE members by vec_id (what the build saw), fine
    * pick = the same argmin within the cell, list_id = cid·g + fid.
    * Every row — slice and batch — is assigned under the slice books,
    * exactly what the persisted index stores plus the batch's routed
    * pass. Ends mid-WITH after `asg` (trailing comma), mirroring
    * [[headAssignCteFor]], so the flat twins' consumer CTEs serve the
    * factored gates verbatim.
    */
  private def twoLevelAssignCteFor(cbWhere: String): String =
    s"""WITH gp AS (SELECT greatest(4, CAST(ceil(sqrt(greatest(16.0, ceil(count(*) / 256.0)))) AS BIGINT)) AS g FROM embeddings $cbWhere),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb AS (SELECT rn - 1 AS cid, cent FROM (
       |    SELECT row_number() OVER (ORDER BY vec_id) AS rn,
       |      CAST(embedding AS DOUBLE[]) AS cent FROM embeddings $cbWhere)
       |  WHERE rn <= (SELECT g FROM gp)),
       |cd AS (SELECT ev.vec_id, cb.cid,
       |  list_reduce(list_prepend(0.0, list_transform(generate_series(1, least(len(ev.v), len(cb.cent))),
       |    i -> (ev.v[i] - cb.cent[i]) * (ev.v[i] - cb.cent[i]))), (a, b) -> a + b) AS d2
       |  FROM ev CROSS JOIN cb),
       |ca AS (SELECT vec_id, cid FROM (
       |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM cd) WHERE rn = 1),
       |fb AS (SELECT cid, rn - 1 AS fid, cent FROM (
       |    SELECT ca.cid, row_number() OVER (PARTITION BY ca.cid ORDER BY ca.vec_id) AS rn,
       |      ev.v AS cent FROM ca JOIN ev USING (vec_id) $cbWhere)
       |  WHERE rn <= (SELECT g FROM gp)),
       |fd AS (SELECT ev.vec_id, ca.cid, fb.fid,
       |  list_reduce(list_prepend(0.0, list_transform(generate_series(1, least(len(ev.v), len(fb.cent))),
       |    i -> (ev.v[i] - fb.cent[i]) * (ev.v[i] - fb.cent[i]))), (a, b) -> a + b) AS d2
       |  FROM ev JOIN ca USING (vec_id) JOIN fb ON fb.cid = ca.cid),
       |fa AS (SELECT vec_id, cid, fid FROM (
       |  SELECT vec_id, cid, fid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, fid) AS rn
       |  FROM fd) WHERE rn = 1),
       |asg AS (SELECT vec_id, CAST(cid * (SELECT g FROM gp) + fid AS INTEGER) AS list_id FROM fa),
       |""".stripMargin

  /** Oracle for ivf_assign_twolevel: the factored head-book assignment
    * ([[twoLevelAssignCteFor]]), aggregated to per-list sizes.
    */
  private def twoLevelAssignOracle: String =
    twoLevelAssignCteFor("") +
      """sz AS (SELECT list_id, count(*)::BIGINT AS n_vectors FROM asg GROUP BY 1)
        |SELECT CAST(list_id AS INTEGER) AS list_id, n_vectors
        |FROM sz ORDER BY list_id""".stripMargin

  /** Oracle shared by semantic_upsert_stats and its streaming twin:
    * components over ALL rows (residue ∪ batch) assigned under the
    * RESIDUE codebook — exactly what the residue-built index plus the
    * in-place batch merge must equal.
    */
  private def semanticUpsertStatsOracle: String =
    semanticClusterCtesFor("WHERE vec_id % 13 <> 0") +
      """, cl AS (SELECT d.vec_id,
        |  coalesce(least(l.mr, d.vec_id), d.vec_id) AS cluster_id
        |  FROM embeddings d LEFT JOIN lbl l ON d.vec_id = l.vec_id),
        |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
        |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
        |  (cluster_size * count(*))::BIGINT AS n_docs
        |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin

  /** [[semanticClusterCtes]] with the codebook drawn from a FILTERED
    * slice (the mod-13 residue for the upsert gate) while every row is
    * still assigned under it — what the residue-built index stores
    * plus the upserted batch's compiled pass.
    */
  private def semanticClusterCtesFor(cbWhere: String): String =
    headAssignCteFor(cbWhere).replaceFirst("WITH ", "WITH RECURSIVE ") +
      semanticEdgeLblCtes

  /** The within-list τ-edge set + recursive-reach min-label chunk
    * shared by every semantic-components oracle — consumes `asg` and
    * `ev` from EITHER assignment prefix (flat [[headAssignCteFor]] or
    * factored [[twoLevelAssignCteFor]]), which is exactly the code
    * relationship the operators have ([[Similarity.semanticClustersAssigned]]
    * behind both forms). Ends after `lbl` WITHOUT a trailing comma.
    */
  private val semanticEdgeLblCtes: String =
    """sp AS (SELECT a.vec_id AS a, b.vec_id AS b
      |  FROM asg a JOIN asg b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      |  JOIN ev ea ON ea.vec_id = a.vec_id JOIN ev eb ON eb.vec_id = b.vec_id
      |  WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.35),
      |edges AS (SELECT a, b FROM sp UNION SELECT b, a FROM sp),
      |reach AS (SELECT a AS vec_id, b AS r FROM edges
      |  UNION SELECT e.a AS vec_id, reach.r FROM edges e JOIN reach ON e.b = reach.vec_id),
      |lbl AS (SELECT vec_id, min(r) AS mr FROM reach GROUP BY vec_id)
      |""".stripMargin

  /** [[semanticClusterCtesFor]] over the FACTORED head books — the
    * two-level semantic twins' shared prefix. */
  private def twoLevelClusterCtes: String =
    twoLevelAssignCteFor("").replaceFirst("WITH ", "WITH RECURSIVE ") +
      semanticEdgeLblCtes

  // — consumer bodies shared between the FLAT and FACTORED twins: each
  // consumes `asg`/`ev` (from headAssignCteFor or twoLevelAssignCteFor)
  // exactly as the operators consume an assigned frame from either
  // pass. One definition per semantics, so a twin pair can never drift.

  /** semdedup earlier-id prune rule + per-row report. */
  private val semdedupPruneBody: String =
    """pr AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS near_id,
      |  max(round(list_cosine_similarity(ea.v, eb.v), 4)) AS max_cos
      |  FROM asg a JOIN asg b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      |  JOIN ev ea ON ea.vec_id = a.vec_id JOIN ev eb ON eb.vec_id = b.vec_id
      |  WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.35
      |  GROUP BY b.vec_id)
      |SELECT asg.vec_id, CAST(asg.list_id AS INTEGER) AS list_id,
      |  pr.near_id IS NULL AS kept,
      |  coalesce(pr.near_id, -1) AS near_id,
      |  coalesce(pr.max_cos, 0.0) + 0.0 AS max_cos
      |FROM asg LEFT JOIN pr ON asg.vec_id = pr.vec_id
      |ORDER BY asg.vec_id""".stripMargin

  /** blocked kNN graph: per-vector cosine-DESC window over list pairs. */
  private val knnGraphBody: String =
    """s AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
      |  round(list_cosine_similarity(ea.v, eb.v), 4) + 0.0 AS cos_sim
      |  FROM asg a JOIN asg b ON a.list_id = b.list_id AND a.vec_id <> b.vec_id
      |  JOIN ev ea ON ea.vec_id = a.vec_id JOIN ev eb ON eb.vec_id = b.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, nbr_id) AS rn FROM s)
      |SELECT vec_id, nbr_id, cos_sim, CAST(rn AS INTEGER) AS rn
      |FROM r WHERE rn <= 5 ORDER BY vec_id, rn""".stripMargin

  /** components assignment off `lbl` (cluster id = component min). */
  private val semanticClustersBody: String =
    """SELECT d.vec_id,
      |coalesce(least(l.mr, d.vec_id), d.vec_id) AS cluster_id,
      |(coalesce(least(l.mr, d.vec_id), d.vec_id) = d.vec_id) AS is_canonical
      |FROM embeddings d LEFT JOIN lbl l ON d.vec_id = l.vec_id
      |ORDER BY d.vec_id""".stripMargin

  /** SoftDeDup weights off `lbl` (shared integer weight identity). */
  private val semanticWeightsBody: String =
    """, cl AS (SELECT d.vec_id,
      |  coalesce(least(l.mr, d.vec_id), d.vec_id) AS cluster_id
      |  FROM embeddings d LEFT JOIN lbl l ON d.vec_id = l.vec_id),
      |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
      |SELECT cl.vec_id, cl.cluster_id, sz.cluster_size,
      |  CAST(1000000 // sz.cluster_size AS DOUBLE) / 1000000.0 AS weight
      |FROM cl JOIN sz USING (cluster_id) ORDER BY cl.vec_id""".stripMargin

  /** the curation loop's replay off an assignment prefix whose books
    * come from the residue: admission (a batch row is refused when any
    * same-list residue row is within tau), live = residue ∪ admitted,
    * within-list τ-edges among live rows, recursive-reach min-label,
    * size histogram.
    */
  private val curationBody: String =
    """pr AS (SELECT b.vec_id AS vec_id
      |  FROM asg b JOIN asg a ON a.list_id = b.list_id
      |    AND b.vec_id % 13 = 0 AND a.vec_id % 13 <> 0
      |  JOIN ev ea ON ea.vec_id = a.vec_id JOIN ev eb ON eb.vec_id = b.vec_id
      |  WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.35
      |  GROUP BY b.vec_id),
      |lv AS (SELECT vec_id, list_id FROM asg WHERE vec_id % 13 <> 0
      |  UNION ALL
      |  SELECT asg.vec_id, asg.list_id FROM asg LEFT JOIN pr ON asg.vec_id = pr.vec_id
      |  WHERE asg.vec_id % 13 = 0 AND pr.vec_id IS NULL),
      |sp AS (SELECT a.vec_id AS a, b.vec_id AS b
      |  FROM lv a JOIN lv b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      |  JOIN ev ea ON ea.vec_id = a.vec_id JOIN ev eb ON eb.vec_id = b.vec_id
      |  WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.35),
      |edges AS (SELECT a, b FROM sp UNION SELECT b, a FROM sp),
      |reach AS (SELECT a AS vec_id, b AS r FROM edges
      |  UNION SELECT e.a AS vec_id, reach.r FROM edges e JOIN reach ON e.b = reach.vec_id),
      |lbl AS (SELECT vec_id, min(r) AS mr FROM reach GROUP BY vec_id),
      |cl AS (SELECT l.vec_id,
      |  coalesce(least(lb.mr, l.vec_id), l.vec_id) AS cluster_id
      |  FROM lv l LEFT JOIN lbl lb ON l.vec_id = lb.vec_id),
      |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
      |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
      |  (cluster_size * count(*))::BIGINT AS n_docs
      |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin

  /** retrieval_eval's oracle: the brute-force labeled top-10 with the
    * SAME baked 6dp DCG weights ([[Similarity.dcgW6]] interpolated as
    * VALUES rows — no engine log() in the compare path), IDCG as the
    * prefix-sum lookup at min(corpus-relevant, k), MRR/NDCG as the
    * HALF_UP integer identities.
    */
  private def retrievalEvalOracle: String = {
    val w = Similarity.dcgW6
    val wRows = w.zipWithIndex
      .map { case (v, i) => s"(${i + 1}, ${v})" }.mkString(", ")
    val pRows = w.scanLeft(0L)(_ + _).zipWithIndex
      .map { case (c, i) => s"($i, ${c})" }.mkString(", ")
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
       |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 500),
       |w(rn, w6) AS (VALUES $wRows),
       |p(n, c6) AS (VALUES $pRows),
       |top AS (SELECT query_id, rel, rn FROM (
       |  SELECT q.query_id, CASE WHEN e.label = q.qlabel THEN 1 ELSE 0 END AS rel,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) DESC, e.vec_id) AS rn
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id) WHERE rn <= 10),
       |d AS (SELECT query_id, sum(rel * w6)::BIGINT AS dcg6,
       |    min(CASE WHEN rel = 1 THEN rn END)::BIGINT AS fr, sum(rel)::BIGINT AS n_hits
       |  FROM top JOIN w USING (rn) GROUP BY 1),
       |tot AS (SELECT q.query_id, count(*)::BIGINT AS n_rel_corpus
       |  FROM embeddings e JOIN q ON e.label = q.qlabel AND e.vec_id <> q.query_id GROUP BY 1)
       |SELECT q.query_id, CAST(10 AS BIGINT) AS k,
       |  coalesce(tot.n_rel_corpus, 0) AS n_rel_corpus,
       |  coalesce(d.n_hits, 0) AS n_hits,
       |  CAST(CASE WHEN d.fr IS NULL THEN 0 ELSE (2 * 10000 + d.fr) // (2 * d.fr) END AS BIGINT) AS mrr_bp,
       |  CAST(CASE WHEN p.c6 IS NULL OR p.c6 = 0 OR d.dcg6 IS NULL THEN 0
       |    ELSE (2 * d.dcg6 * 10000 + p.c6) // (2 * p.c6) END AS BIGINT) AS ndcg_bp
       |FROM q LEFT JOIN tot ON q.query_id = tot.query_id
       |LEFT JOIN d ON q.query_id = d.query_id
       |LEFT JOIN p ON p.n = least(coalesce(tot.n_rel_corpus, 0), 10)
       |ORDER BY q.query_id""".stripMargin
  }

  private def bm25Oracle: String = {
    val terms = Seq("spark", "table", "scan")
    val tfDefs = terms.indices.map { i =>
      s"CAST(len(list_filter(ws, x -> x = '${terms(i)}')) AS BIGINT) AS tf_$i"
    }.mkString(",\n")
    val dfDefs = terms.indices.map { i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)::BIGINT AS df_$i"
    }.mkString(",\n")
    val scoreSum = terms.indices.map { i =>
      s"(((2*n - 2*df_$i + 1) * 1000) // (2*df_$i + 1)) * " +
        s"((22*tf_$i*avgdl_x*1000) // (10*tf_$i*avgdl_x + 3*avgdl_x + 900*dl))"
    }.mkString(" +\n")
    val tfOut = terms.indices.map(i => s"tf_$i").mkString(", ")
    s"""WITH b AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS ws FROM documents),
       |t AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |$tfDefs FROM b),
       |st AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS s,
       |$dfDefs,
       |(100 * sum(dl)::BIGINT) // count(*)::BIGINT AS avgdl_x FROM t),
       |sc AS (SELECT doc_id, dl, $tfOut,
       |CAST($scoreSum AS BIGINT) AS score_fp
       |FROM t CROSS JOIN st)
       |SELECT doc_id, score_fp, $tfOut FROM sc WHERE score_fp > 0
       |ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin
  }

  /** Oracle for the leakage-safe split (direct and indexed forms):
    * brute-force components + md5 bucket of the CLUSTER id.
    */
  private def leakageSplitOracle: String = {
    val hv = (0 until 8).map { i =>
      val mult = 1L << (4 * (7 - i))
      s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
    }.mkString(" +\n")
    s"""WITH RECURSIVE $clusterCtes,
       |cl AS (SELECT d.doc_id, coalesce(least(l.mr, d.doc_id), d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
       |h AS (SELECT doc_id, cluster_id, md5(CAST(cluster_id AS VARCHAR)) AS hx FROM cl),
       |b AS (SELECT doc_id, cluster_id, CAST(($hv) % 100 AS INTEGER) AS bucket FROM h)
       |SELECT doc_id, cluster_id,
       |CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** The per-doc keep-list oracle, shared verbatim by corpus_keep_list
    * and the curation_funnel aggregate over it.
    */
  private val keepListOracle: String =
      """WITH fp AS (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f FROM documents),
        |canon AS (SELECT f, min(doc_id) AS canon_id FROM fp GROUP BY 1),
        |q AS (SELECT doc_id,
        |  (((2 * least(len(string_split_regex(trim(text), '\s+')), 100) * (10000 - (CASE WHEN length(text) > 0 THEN (2 * len(regexp_extract_all(text, '[.!?,;:]')) * 10000 + length(text)) // (2 * length(text)) ELSE 0 END)) + 100) // 200) >= 5000
        |   AND len(string_split_regex(trim(text), '\s+')) >= 20) AS is_quality FROM documents),
        |w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-7), i -> array_to_string(ws[i:i+7], ' '))) AS gram FROM w WHERE len(ws) >= 8),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0 AND doc_id < 500),
        |cont AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram) WHERE NOT (g.doc_id % 10 = 0 AND g.doc_id < 500))
        |SELECT d.doc_id, q.is_quality,
        |  (d.doc_id = c.canon_id) AS is_canonical,
        |  (d.doc_id % 10 = 0 AND d.doc_id < 500) AS is_benchmark,
        |  (cont.doc_id IS NOT NULL) AS is_contaminated,
        |  (q.is_quality AND d.doc_id = c.canon_id AND NOT (d.doc_id % 10 = 0 AND d.doc_id < 500) AND cont.doc_id IS NULL) AS keep
        |FROM documents d
        |JOIN fp ON d.doc_id = fp.doc_id
        |JOIN canon c ON fp.f = c.f
        |JOIN q ON d.doc_id = q.doc_id
        |LEFT JOIN cont ON d.doc_id = cont.doc_id
        |ORDER BY d.doc_id""".stripMargin

  private val heikinAshiOracle: String =
    """WITH RECURSIVE dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(min_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS o,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, day, o, h, l, c,
        |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM dc),
        |rec AS (
        |  SELECT user_id, rn, 2 * (o + c) AS hao4 FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.rn, (rec.hao4 + (p.o + p.h + p.l + p.c) + 1) // 2
        |  FROM r JOIN rec ON r.user_id = rec.user_id AND r.rn = rec.rn + 1
        |  JOIN r p ON p.user_id = r.user_id AND p.rn = rec.rn)
        |SELECT r.user_id, r.day,
        |  CAST(hao4 AS DOUBLE) / 400.0 AS ha_open,
        |  CAST(greatest(4 * h, hao4, o + h + l + c) AS DOUBLE) / 400.0 AS ha_high,
        |  CAST(least(4 * l, hao4, o + h + l + c) AS DOUBLE) / 400.0 AS ha_low,
        |  CAST(o + h + l + c AS DOUBLE) / 400.0 AS ha_close
        |FROM r JOIN rec ON r.user_id = rec.user_id AND r.rn = rec.rn
        |ORDER BY r.user_id, r.day""".stripMargin

  private val adxOracle: String =
    """WITH RECURSIVE dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, day, h, l, c,
        |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS m FROM dc),
        |d AS (SELECT user_id, day, rn - 1 AS j,
        |  CASE WHEN h - ph > pl - l AND h - ph > 0 THEN (h - ph) * 1000000 ELSE 0 END AS pdm,
        |  CASE WHEN pl - l > h - ph AND pl - l > 0 THEN (pl - l) * 1000000 ELSE 0 END AS ndm,
        |  greatest(h - l, abs(h - pc), abs(l - pc)) * 1000000 AS tr
        |  FROM (SELECT *, lag(h) OVER pw AS ph, lag(l) OVER pw AS pl, lag(c) OVER pw AS pc
        |        FROM r WHERE m >= 14 WINDOW pw AS (PARTITION BY user_id ORDER BY rn))
        |  WHERE ph IS NOT NULL),
        |s AS (SELECT user_id, day, j, pdm, ndm, tr,
        |  sum(pdm) OVER w AS cp, sum(ndm) OVER w AS cn, sum(tr) OVER w AS ct,
        |  count(*) OVER w AS nd
        |  FROM d
        |  WINDOW w AS (PARTITION BY user_id ORDER BY j ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |w1 AS (
        |  SELECT user_id, day, j,
        |    (2 * cp + 7) // 14 AS wp, (2 * cn + 7) // 14 AS wn, (2 * ct + 7) // 14 AS wt
        |  FROM s WHERE j = 7 AND nd = 7
        |  UNION ALL
        |  SELECT d.user_id, d.day, d.j,
        |    (2 * (w1.wp * 6 + d.pdm) + 7) // 14,
        |    (2 * (w1.wn * 6 + d.ndm) + 7) // 14,
        |    (2 * (w1.wt * 6 + d.tr) + 7) // 14
        |  FROM d JOIN w1 ON d.user_id = w1.user_id AND d.j = w1.j + 1),
        |dx AS (SELECT user_id, day, j,
        |  CASE WHEN wt = 0 THEN 0 ELSE (2 * wp * 10000 + wt) // (2 * wt) END AS dip,
        |  CASE WHEN wt = 0 THEN 0 ELSE (2 * wn * 10000 + wt) // (2 * wt) END AS dim,
        |  CASE WHEN (CASE WHEN wt = 0 THEN 0 ELSE (2 * wp * 10000 + wt) // (2 * wt) END)
        |          + (CASE WHEN wt = 0 THEN 0 ELSE (2 * wn * 10000 + wt) // (2 * wt) END) = 0 THEN 0
        |    ELSE (2 * abs((CASE WHEN wt = 0 THEN 0 ELSE (2 * wp * 10000 + wt) // (2 * wt) END)
        |                - (CASE WHEN wt = 0 THEN 0 ELSE (2 * wn * 10000 + wt) // (2 * wt) END)) * 10000
        |          + ((CASE WHEN wt = 0 THEN 0 ELSE (2 * wp * 10000 + wt) // (2 * wt) END)
        |           + (CASE WHEN wt = 0 THEN 0 ELSE (2 * wn * 10000 + wt) // (2 * wt) END)))
        |      // (2 * ((CASE WHEN wt = 0 THEN 0 ELSE (2 * wp * 10000 + wt) // (2 * wt) END)
        |            + (CASE WHEN wt = 0 THEN 0 ELSE (2 * wn * 10000 + wt) // (2 * wt) END)))
        |  END * 1000000 AS dxu
        |  FROM w1),
        |sd AS (SELECT user_id, day, j, dip, dim, dxu,
        |  sum(dxu) OVER w2 AS cdx, count(*) OVER w2 AS nd2
        |  FROM dx
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY j ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |a AS (
        |  SELECT user_id, day, j, dip, dim, (2 * cdx + 7) // 14 AS wa
        |  FROM sd WHERE j = 13 AND nd2 = 7
        |  UNION ALL
        |  SELECT dx.user_id, dx.day, dx.j, dx.dip, dx.dim,
        |    (2 * (a.wa * 6 + dx.dxu) + 7) // 14
        |  FROM dx JOIN a ON dx.user_id = a.user_id AND dx.j = a.j + 1)
        |SELECT user_id, day,
        |  CAST(dip AS BIGINT) AS di_plus_bp, CAST(dim AS BIGINT) AS di_minus_bp,
        |  CAST((2 * wa + 1000000) // 2000000 AS BIGINT) AS adx_bp
        |FROM a ORDER BY user_id, day""".stripMargin

  private val supertrendOracle: String =
    """WITH RECURSIVE dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, day, h, l, c,
        |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS m FROM dc),
        |tp AS (SELECT user_id, day, rn,
        |  (CASE WHEN rn = 1 THEN h - l
        |        ELSE greatest(h - l, abs(h - pc), abs(l - pc)) END) * 1000000 AS tr,
        |  (h + l) * 500000 AS mid, c * 1000000 AS cu
        |  FROM (SELECT *, lag(c) OVER (PARTITION BY user_id ORDER BY rn) AS pc
        |        FROM r WHERE m >= 7)),
        |sd AS (SELECT user_id, rn,
        |  sum(tr) OVER (PARTITION BY user_id ORDER BY rn ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS str
        |  FROM tp),
        |atr AS (
        |  SELECT user_id, rn, (2 * str + 7) // 14 AS atr FROM sd WHERE rn = 7
        |  UNION ALL
        |  SELECT tp.user_id, tp.rn, (2 * (atr.atr * 6 + tp.tr) + 7) // 14
        |  FROM tp JOIN atr ON tp.user_id = atr.user_id AND tp.rn = atr.rn + 1),
        |b AS (SELECT tp.user_id, tp.day, tp.rn, tp.cu,
        |  tp.mid + 3 * atr.atr AS bu, tp.mid - 3 * atr.atr AS bl
        |  FROM tp JOIN atr ON tp.user_id = atr.user_id AND tp.rn = atr.rn),
        |rec AS (
        |  SELECT user_id, rn, bu AS fu, bl AS fl,
        |    CASE WHEN cu > bu THEN 1 WHEN cu < bl THEN -1 ELSE 1 END AS td
        |  FROM b WHERE rn = 7
        |  UNION ALL
        |  SELECT b.user_id, b.rn,
        |    CASE WHEN b.bu < rec.fu OR pb.cu > rec.fu THEN b.bu ELSE rec.fu END,
        |    CASE WHEN b.bl > rec.fl OR pb.cu < rec.fl THEN b.bl ELSE rec.fl END,
        |    CASE WHEN b.cu > (CASE WHEN b.bu < rec.fu OR pb.cu > rec.fu THEN b.bu ELSE rec.fu END) THEN 1
        |         WHEN b.cu < (CASE WHEN b.bl > rec.fl OR pb.cu < rec.fl THEN b.bl ELSE rec.fl END) THEN -1
        |         ELSE rec.td END
        |  FROM b JOIN rec ON b.user_id = rec.user_id AND b.rn = rec.rn + 1
        |  JOIN b pb ON pb.user_id = b.user_id AND pb.rn = rec.rn)
        |SELECT b.user_id, b.day,
        |  CAST(rec.fu AS DOUBLE) / 100000000.0 AS upper_band,
        |  CAST(rec.fl AS DOUBLE) / 100000000.0 AS lower_band,
        |  CAST(rec.td AS BIGINT) AS trend,
        |  CAST(CASE WHEN rec.td = 1 THEN rec.fl ELSE rec.fu END AS DOUBLE) / 100000000.0 AS supertrend
        |FROM b JOIN rec ON b.user_id = rec.user_id AND b.rn = rec.rn
        |ORDER BY b.user_id, b.day""".stripMargin

  /** Shared closes-with-rank CTE of the TimeSeries oracle family:
    * the [[graft.operators.Finance.dailyBars]] close replayed in
    * DuckDB (max_by over the composite order key, integer cents) plus
    * per-series row number and count.
    */
  private val tsClosesCte: String =
    """dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
      |  CAST(CAST(max_by(round(value, 2),
      |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
      |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT user_id, day, c,
      |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn,
      |  count(*) OVER (PARTITION BY user_id) AS m FROM dc)""".stripMargin

  /** ACF oracle: exact BIGINT moments per (series, lag) via the
    * lagged self-join, the PINNED √vx·√vy denominator (the operator's
    * convention — NOT √(vx·vy)), degenerate lags dropped the same way.
    * Sums are ::BIGINT so both engines run the identical integer
    * arithmetic.
    */
  private val acfOracle: String =
    s"""WITH $tsClosesCte,
       |lg AS (SELECT unnest(generate_series(1, 5)) AS lag),
       |p AS (SELECT x.user_id, lg.lag, x.c AS xc, y.c AS yc
       |  FROM r x JOIN lg ON TRUE
       |  JOIN r y ON y.user_id = x.user_id AND y.rn = x.rn + lg.lag),
       |s AS (SELECT user_id, lag, count(*)::BIGINT AS k,
       |  sum(xc)::BIGINT AS sx, sum(yc)::BIGINT AS sy,
       |  sum(xc * xc)::BIGINT AS sxx, sum(yc * yc)::BIGINT AS syy,
       |  sum(xc * yc)::BIGINT AS sxy
       |  FROM p GROUP BY 1, 2),
       |v AS (SELECT user_id, lag, k,
       |  k * sxy - sx * sy AS num, k * sxx - sx * sx AS vx,
       |  k * syy - sy * sy AS vy FROM s)
       |SELECT user_id, CAST(lag AS BIGINT) AS lag,
       |  round(CAST(num AS DOUBLE) /
       |    (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))), 6) + 0.0 AS acf
       |FROM v WHERE k >= 2 AND vx > 0 AND vy > 0
       |ORDER BY user_id, lag""".stripMargin

  /** Kendall tau-b vs time oracle: the exact pairwise sign/tie sums
    * via the i<j self-join, n₀ = m(m−1)/2 exact, the same two-sqrt
    * pinned denominator, all-tied series dropped.
    */
  private val kendallOracle: String =
    s"""WITH $tsClosesCte,
       |p AS (SELECT x.user_id,
       |  sum(CASE WHEN y.c > x.c THEN 1 WHEN y.c < x.c THEN -1 ELSE 0 END)::BIGINT AS cd,
       |  sum(CASE WHEN y.c = x.c THEN 1 ELSE 0 END)::BIGINT AS ties
       |  FROM r x JOIN r y ON y.user_id = x.user_id AND y.rn > x.rn
       |  GROUP BY 1),
       |g AS (SELECT user_id, max(m)::BIGINT AS m FROM r GROUP BY 1),
       |t AS (SELECT p.user_id, g.m, p.cd, p.ties,
       |  (g.m * (g.m - 1)) // 2 AS n0 FROM p JOIN g ON p.user_id = g.user_id)
       |SELECT user_id, m AS n_days, cd AS concordance,
       |  round(CAST(cd AS DOUBLE) /
       |    (sqrt(CAST(n0 AS DOUBLE)) * sqrt(CAST(n0 - ties AS DOUBLE))), 6) + 0.0 AS tau
       |FROM t WHERE m >= 2 AND n0 > ties
       |ORDER BY user_id""".stripMargin

  /** Theil–Sen oracle: every trailing-window (rn > m − 504) pair's
    * signed HALF_UP micro-slope via the i<j self-join (the pair gap
    * is the rn difference — windowing shifts no gap), lower median by
    * rank (P+1)//2, /10⁶ exact-emit double.
    */
  private val theilSenOracle: String =
    s"""WITH $tsClosesCte,
       |r2 AS (SELECT user_id, c, rn FROM r WHERE m >= 2 AND rn > m - 504),
       |sl AS (SELECT x.user_id,
       |  CASE WHEN y.c - x.c >= 0
       |    THEN (2 * (y.c - x.c) * 10000 + (y.rn - x.rn)) // (2 * (y.rn - x.rn))
       |    ELSE -((2 * (x.c - y.c) * 10000 + (y.rn - x.rn)) // (2 * (y.rn - x.rn)))
       |  END AS s
       |  FROM r2 x JOIN r2 y ON y.user_id = x.user_id AND y.rn > x.rn),
       |rk AS (SELECT user_id, s,
       |  row_number() OVER (PARTITION BY user_id ORDER BY s) AS k,
       |  count(*) OVER (PARTITION BY user_id) AS p FROM sl)
       |SELECT user_id, CAST(p AS BIGINT) AS n_pairs,
       |  CAST(s AS BIGINT) AS slope_micro,
       |  CAST(s AS DOUBLE) / 1000000.0 AS slope
       |FROM rk WHERE k = (p + 1) // 2
       |ORDER BY user_id""".stripMargin

  /** CUSUM oracle: lower-median target and MAD by rank selection,
    * slack k = (2·MAD+2)//4 (HALF_UP MAD/2), threshold 5·MAD, the
    * two-sided max(0, ·) recursion replayed as a recursive CTE.
    */
  private val cusumOracle: String =
    s"""WITH RECURSIVE $tsClosesCte,
       |m1 AS (SELECT user_id, c AS mu FROM
       |  (SELECT user_id, c, m,
       |     row_number() OVER (PARTITION BY user_id ORDER BY c) AS k
       |   FROM r WHERE m >= 2)
       |  WHERE k = (m + 1) // 2),
       |m2 AS (SELECT user_id, ad AS mad FROM
       |  (SELECT r.user_id, abs(r.c - m1.mu) AS ad, r.m,
       |     row_number() OVER (PARTITION BY r.user_id ORDER BY abs(r.c - m1.mu)) AS k
       |   FROM r JOIN m1 ON r.user_id = m1.user_id)
       |  WHERE k = (m + 1) // 2),
       |ms AS (SELECT m1.user_id, m1.mu, m2.mad,
       |  (2 * m2.mad + 2) // 4 AS kk, m2.mad * 5 AS h
       |  FROM m1 JOIN m2 ON m1.user_id = m2.user_id),
       |rec AS (
       |  SELECT r.user_id, r.rn,
       |    greatest(0, r.c - ms.mu - ms.kk) AS sp,
       |    greatest(0, ms.mu - r.c - ms.kk) AS sn
       |  FROM r JOIN ms ON r.user_id = ms.user_id WHERE r.rn = 1
       |  UNION ALL
       |  SELECT r.user_id, r.rn,
       |    greatest(0, rec.sp + (r.c - ms.mu - ms.kk)),
       |    greatest(0, rec.sn + (ms.mu - r.c - ms.kk))
       |  FROM r JOIN rec ON r.user_id = rec.user_id AND r.rn = rec.rn + 1
       |  JOIN ms ON ms.user_id = r.user_id)
       |SELECT r.user_id, r.day,
       |  CAST(ms.mu AS DOUBLE) / 100.0 AS target,
       |  CAST(rec.sp AS BIGINT) AS s_pos, CAST(rec.sn AS BIGINT) AS s_neg,
       |  (rec.sp > ms.h OR rec.sn > ms.h) AS alarm
       |FROM rec JOIN r ON r.user_id = rec.user_id AND r.rn = rec.rn
       |JOIN ms ON ms.user_id = rec.user_id
       |ORDER BY r.user_id, r.day""".stripMargin

  /** Holt linear oracle: the α=β=1/2 recursion in micro-cents, every
    * step the SAME signed HALF_UP halving as the operator, state
    * (l, f = l + b), intermediates repeated verbatim (recursive CTEs
    * can't bind columns — the supertrend-oracle convention).
    */
  private val holtOracle: String = {
    def half(num: String) =
      s"CASE WHEN $num >= 0 THEN ($num + 1) // 2 ELSE -((-($num) + 1) // 2) END"
    val lt = half("r.c * 1000000 + rec.f")
    val bt = half(s"rec.f + ($lt) - 2 * rec.l")
    s"""WITH RECURSIVE $tsClosesCte,
       |rec AS (
       |  SELECT user_id, rn, c * 1000000 AS l, c * 1000000 AS f
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.user_id, r.rn, ($lt), ($lt) + ($bt)
       |  FROM r JOIN rec ON r.user_id = rec.user_id AND r.rn = rec.rn + 1)
       |SELECT r.user_id, r.day,
       |  CAST(rec.l AS DOUBLE) / 100000000.0 AS level,
       |  CAST(rec.f - rec.l AS DOUBLE) / 100000000.0 AS trend,
       |  CAST(rec.f AS DOUBLE) / 100000000.0 AS forecast
       |FROM rec JOIN r ON r.user_id = rec.user_id AND r.rn = rec.rn
       |ORDER BY r.user_id, r.day""".stripMargin
  }

  /** Shared ACF-moment CTE chain (through the rounded per-lag acf) of
    * the Ljung–Box / PACF oracles — the [[acfOracle]] replay
    * parameterized by max lag.
    */
  private def tsAcfCtes(maxLag: Int): String =
    s"""lg AS (SELECT unnest(generate_series(1, $maxLag)) AS lag),
       |p AS (SELECT x.user_id, lg.lag, x.c AS xc, y.c AS yc
       |  FROM r x JOIN lg ON TRUE
       |  JOIN r y ON y.user_id = x.user_id AND y.rn = x.rn + lg.lag),
       |s AS (SELECT user_id, lag, count(*)::BIGINT AS k,
       |  sum(xc)::BIGINT AS sx, sum(yc)::BIGINT AS sy,
       |  sum(xc * xc)::BIGINT AS sxx, sum(yc * yc)::BIGINT AS syy,
       |  sum(xc * yc)::BIGINT AS sxy
       |  FROM p GROUP BY 1, 2),
       |v AS (SELECT user_id, lag, k,
       |  k * sxy - sx * sy AS num, k * sxx - sx * sx AS vx,
       |  k * syy - sy * sy AS vy FROM s),
       |a AS (SELECT user_id, lag,
       |  round(CAST(num AS DOUBLE) /
       |    (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))), 6) + 0.0 AS acf
       |  FROM v WHERE k >= 2 AND vx > 0 AND vy > 0)""".stripMargin

  /** Ljung–Box oracle: the Q sum written out lag by lag in the same
    * left-to-right IEEE chain as the operator — COALESCE(r_L²/(m−L))
    * terms off the 6dp-rounded acf, never a SQL aggregate whose merge
    * order floats.
    */
  private val ljungBoxOracle: String =
    s"""WITH $tsClosesCte,
       |${tsAcfCtes(5)},
       |g AS (SELECT user_id, max(m)::BIGINT AS m FROM r GROUP BY 1),
       |piv AS (SELECT user_id,
       |  max(CASE WHEN lag = 1 THEN acf END) AS r1,
       |  max(CASE WHEN lag = 2 THEN acf END) AS r2,
       |  max(CASE WHEN lag = 3 THEN acf END) AS r3,
       |  max(CASE WHEN lag = 4 THEN acf END) AS r4,
       |  max(CASE WHEN lag = 5 THEN acf END) AS r5,
       |  count(*)::BIGINT AS lags_used
       |  FROM a GROUP BY 1)
       |SELECT piv.user_id, g.m AS n_days, piv.lags_used,
       |  round(CAST(g.m * (g.m + 2) AS DOUBLE) *
       |    (COALESCE(r1 * r1 / CAST(g.m - 1 AS DOUBLE), 0.0) +
       |     COALESCE(r2 * r2 / CAST(g.m - 2 AS DOUBLE), 0.0) +
       |     COALESCE(r3 * r3 / CAST(g.m - 3 AS DOUBLE), 0.0) +
       |     COALESCE(r4 * r4 / CAST(g.m - 4 AS DOUBLE), 0.0) +
       |     COALESCE(r5 * r5 / CAST(g.m - 5 AS DOUBLE), 0.0)), 6) + 0.0 AS q_stat
       |FROM piv JOIN g ON piv.user_id = g.user_id
       |ORDER BY piv.user_id""".stripMargin

  /** PACF oracle: the closed determinant-ratio forms off the rounded
    * acf pivot, identical token sequence to the operator's
    * expressions, near-singular denominators dropped the same way.
    */
  private val pacfOracle: String =
    s"""WITH $tsClosesCte,
       |${tsAcfCtes(3)},
       |piv AS (SELECT user_id,
       |  max(CASE WHEN lag = 1 THEN acf END) AS r1,
       |  max(CASE WHEN lag = 2 THEN acf END) AS r2,
       |  max(CASE WHEN lag = 3 THEN acf END) AS r3
       |  FROM a GROUP BY 1)
       |SELECT user_id, CAST(1 AS BIGINT) AS lag, r1 AS pacf
       |FROM piv WHERE r1 IS NOT NULL
       |UNION ALL
       |SELECT user_id, CAST(2 AS BIGINT) AS lag,
       |  round((r2 - r1*r1) / (1 - r1*r1), 6) + 0.0 AS pacf
       |FROM piv WHERE r1 IS NOT NULL AND r2 IS NOT NULL
       |  AND abs(1 - r1*r1) > 1e-12
       |UNION ALL
       |SELECT user_id, CAST(3 AS BIGINT) AS lag,
       |  round((r3 - r1*r2 - r1*r1*r3 + r1*r2*r2 + r1*r1*r1 - r1*r2) /
       |    (1 - 2*r1*r1 + 2*r1*r1*r2 - r2*r2), 6) + 0.0 AS pacf
       |FROM piv WHERE r1 IS NOT NULL AND r2 IS NOT NULL AND r3 IS NOT NULL
       |  AND abs(1 - 2*r1*r1 + 2*r1*r1*r2 - r2*r2) > 1e-12
       |ORDER BY user_id, lag""".stripMargin

  /** Seasonal-decomposition oracle: the centered-7 HALF_UP trend,
    * engine-neutral (day − 1970-01-05) mod 7 weekday, per-weekday
    * signed HALF_UP seasonal over the trend-defined rows, remainder
    * exact.
    */
  private val seasonalOracle: String =
    s"""WITH $tsClosesCte,
       |t AS (SELECT user_id, day, c,
       |  sum(c) OVER w7 AS s7, count(*) OVER w7 AS n7
       |  FROM r
       |  WINDOW w7 AS (PARTITION BY user_id ORDER BY day
       |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |t2 AS (SELECT user_id, day, c,
       |  CASE WHEN n7 = 7 THEN (2 * s7 + 7) // 14 END AS trend_c FROM t),
       |t3 AS (SELECT *, c - trend_c AS detr,
       |  (CAST(day AS DATE) - DATE '1970-01-05') % 7 AS wd FROM t2),
       |t4 AS (SELECT *, sum(detr) OVER pw AS sd, count(detr) OVER pw AS ct
       |  FROM t3 WINDOW pw AS (PARTITION BY user_id, wd)),
       |t5 AS (SELECT *,
       |  CASE WHEN sd >= 0 THEN (2 * sd + ct) // (2 * ct)
       |       ELSE -((2 * (-sd) + ct) // (2 * ct)) END AS seas_c
       |  FROM t4 WHERE detr IS NOT NULL)
       |SELECT user_id, day, CAST(wd AS BIGINT) AS weekday,
       |  CAST(trend_c AS DOUBLE) / 100.0 AS trend,
       |  CAST(seas_c AS DOUBLE) / 100.0 AS seasonal,
       |  CAST(detr - seas_c AS DOUBLE) / 100.0 AS remainder
       |FROM t5 ORDER BY user_id, day""".stripMargin

  /** Hampel oracle: frame-list window, lower-median rank 4 of 7 by
    * list_sort, MAD the same selection over absolute deviations,
    * 3·MAD integer compare.
    */
  private val hampelOracle: String =
    s"""WITH $tsClosesCte,
       |t AS (SELECT user_id, day, c,
       |  list(c) OVER (PARTITION BY user_id ORDER BY day
       |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS vals FROM r),
       |t2 AS (SELECT user_id, day, c, vals, list_sort(vals)[4] AS med
       |  FROM t WHERE len(vals) = 7),
       |t3 AS (SELECT user_id, day, c, med,
       |  list_sort(list_transform(vals, x -> abs(x - med)))[4] AS mad FROM t2)
       |SELECT user_id, day,
       |  CAST(c AS DOUBLE) / 100.0 AS close,
       |  CAST(med AS DOUBLE) / 100.0 AS win_median,
       |  CAST(mad AS DOUBLE) / 100.0 AS win_mad,
       |  (abs(c - med) > 3 * mad) AS outlier,
       |  CAST(CASE WHEN abs(c - med) > 3 * mad THEN med ELSE c END AS DOUBLE)
       |    / 100.0 AS cleaned
       |FROM t3 ORDER BY user_id, day""".stripMargin

  /** Interpolation oracle: lead-pair gaps, generate_series interior
    * days, the same signed HALF_UP (Δ·k)/gap identity, original rows
    * unioned unflagged.
    */
  private val interpolateOracle: String =
    s"""WITH $tsClosesCte,
       |t AS (SELECT user_id, day, c,
       |  lead(c) OVER (PARTITION BY user_id ORDER BY day) AS nc,
       |  lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nd FROM r),
       |t2 AS (SELECT *, (CAST(nd AS DATE) - CAST(day AS DATE)) AS gap FROM t),
       |i AS (SELECT user_id, day, c, nc, gap,
       |  unnest(generate_series(1, gap - 1)) AS k
       |  FROM t2 WHERE gap > 1)
       |SELECT user_id, day, CAST(c AS DOUBLE) / 100.0 AS close,
       |  FALSE AS interpolated FROM r
       |UNION ALL
       |SELECT user_id,
       |  strftime(CAST(day AS DATE) + CAST(k AS INTEGER), '%Y-%m-%d') AS day,
       |  CAST(c + (CASE WHEN nc >= c
       |    THEN (2 * (nc - c) * k + gap) // (2 * gap)
       |    ELSE -((2 * (c - nc) * k + gap) // (2 * gap)) END) AS DOUBLE)
       |    / 100.0 AS close,
       |  TRUE AS interpolated FROM i
       |ORDER BY user_id, day""".stripMargin

  /** CCF-vs-market oracle: per-series close changes, the leave-one-out
    * market sum joined at each lag's calendar offset, exact BIGINT
    * moments, pinned two-sqrt denominator.
    */
  private val ccfOracle: String =
    s"""WITH $tsClosesCte,
       |d2 AS (SELECT user_id, day, dv FROM
       |  (SELECT user_id, day,
       |     c - lag(c) OVER (PARTITION BY user_id ORDER BY day) AS dv FROM r)
       |  WHERE dv IS NOT NULL),
       |mk AS (SELECT day AS mday, sum(dv)::BIGINT AS mv FROM d2 GROUP BY 1),
       |lg AS (SELECT unnest(generate_series(-3, 3)) AS lag),
       |j AS (SELECT d2.user_id, d2.dv, lg.lag,
       |  strftime(CAST(d2.day AS DATE) - CAST(lg.lag AS INTEGER), '%Y-%m-%d') AS mday
       |  FROM d2 JOIN lg ON TRUE),
       |j2 AS (SELECT j.user_id, j.lag, j.dv, mk.mv - COALESCE(s2.dv, 0) AS y
       |  FROM j JOIN mk ON j.mday = mk.mday
       |  LEFT JOIN d2 s2 ON s2.user_id = j.user_id AND s2.day = j.mday),
       |m AS (SELECT user_id, lag, count(*)::BIGINT AS k,
       |  sum(dv)::BIGINT AS sx, sum(y)::BIGINT AS sy,
       |  sum(dv * dv)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
       |  sum(dv * y)::BIGINT AS sxy
       |  FROM j2 GROUP BY 1, 2),
       |v AS (SELECT user_id, lag, k,
       |  k * sxy - sx * sy AS num, k * sxx - sx * sx AS vx,
       |  k * syy - sy * sy AS vy FROM m)
       |SELECT user_id, CAST(lag AS BIGINT) AS lag, k AS n_pairs,
       |  round(CAST(num AS DOUBLE) /
       |    (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE))), 6) + 0.0 AS ccf
       |FROM v WHERE k >= 2 AND vx > 0 AND vy > 0
       |ORDER BY user_id, lag""".stripMargin

  /** Forecast-skill oracle: lag-1/lag-7 absolute-error sums, HALF_UP
    * cent MAEs, the exact-integer MASE bp identity, zero-naive-error
    * series dropped.
    */
  private val forecastSkillOracle: String =
    s"""WITH $tsClosesCte,
       |t AS (SELECT user_id, c,
       |  lag(c) OVER (PARTITION BY user_id ORDER BY day) AS p1,
       |  lag(c, 7) OVER (PARTITION BY user_id ORDER BY day) AS p7 FROM r),
       |a2 AS (SELECT user_id, count(*)::BIGINT AS m,
       |  sum(abs(c - p1))::BIGINT AS sum1, count(p1)::BIGINT AS n1,
       |  sum(abs(c - p7))::BIGINT AS sum7, count(p7)::BIGINT AS n7
       |  FROM t GROUP BY 1)
       |SELECT user_id, m AS n_days,
       |  CAST((2 * sum1 + n1) // (2 * n1) AS DOUBLE) / 100.0 AS mae_naive,
       |  CAST((2 * sum7 + n7) // (2 * n7) AS DOUBLE) / 100.0 AS mae_snaive,
       |  (2 * sum7 * n1 * 10000 + (sum1 * n7)) // (2 * (sum1 * n7)) AS mase_bp
       |FROM a2 WHERE n7 >= 1 AND sum1 > 0
       |ORDER BY user_id""".stripMargin

  /** Variance-ratio oracle: exact n·Σd²−(Σd)² integer moments for the
    * 1-bar and overlapping 5-bar differences, the ratio evaluated as
    * the operator's identical left-associated float chain.
    */
  private val varianceRatioOracle: String =
    s"""WITH $tsClosesCte,
       |t AS (SELECT user_id, day, c,
       |  c - lag(c) OVER (PARTITION BY user_id ORDER BY day) AS d1,
       |  c - lag(c, 5) OVER (PARTITION BY user_id ORDER BY day) AS dq FROM r),
       |a2 AS (SELECT user_id,
       |  count(d1)::BIGINT AS n1, sum(d1)::BIGINT AS s1,
       |  sum(d1 * d1)::BIGINT AS s11,
       |  count(dq)::BIGINT AS nq, sum(dq)::BIGINT AS sq,
       |  sum(dq * dq)::BIGINT AS sqq
       |  FROM t GROUP BY 1),
       |v AS (SELECT user_id, n1, nq,
       |  n1 * s11 - s1 * s1 AS v1, nq * sqq - sq * sq AS vq FROM a2)
       |SELECT user_id, CAST(5 AS BIGINT) AS q, n1 AS n_diffs,
       |  round((CAST(vq AS DOUBLE) * n1 * n1) /
       |    (5.0 * CAST(v1 AS DOUBLE) * nq * nq), 6) + 0.0 AS vr
       |FROM v WHERE nq >= 2 AND v1 > 0
       |ORDER BY user_id""".stripMargin

  /** Runs-test oracle: the sign sequence over nonzero close changes,
    * runs = 1 + lag-compared flips, and the z-score written as the
    * operator's identical fixed float chain off exact integer counts.
    */
  private val runsTestOracle: String =
    s"""WITH $tsClosesCte,
       |d AS (SELECT user_id, day, c,
       |  lag(c) OVER (PARTITION BY user_id ORDER BY day) AS pv FROM r),
       |sg AS (SELECT user_id, day,
       |  CASE WHEN c > pv THEN 1 ELSE -1 END AS sgn
       |  FROM d WHERE pv IS NOT NULL AND c <> pv),
       |s2 AS (SELECT user_id, sgn,
       |  lag(sgn) OVER (PARTITION BY user_id ORDER BY day) AS psgn FROM sg),
       |a2 AS (SELECT user_id, count(*)::BIGINT AS n,
       |  sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)::BIGINT AS np,
       |  sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)::BIGINT AS nm,
       |  (sum(CASE WHEN psgn IS NOT NULL AND sgn <> psgn THEN 1 ELSE 0 END)
       |    + 1)::BIGINT AS runs
       |  FROM s2 GROUP BY 1)
       |SELECT user_id, n AS n_obs, np AS n_up, nm AS n_down, runs,
       |  round((runs - (CAST(1 AS DOUBLE) + CAST(2 AS DOUBLE) * np * nm / n)) /
       |    sqrt((CAST(2 AS DOUBLE) * np * nm * (CAST(2 AS DOUBLE) * np * nm - n)) /
       |    (CAST(n AS DOUBLE) * n * (n - 1))), 6)
       |    + 0.0 AS z
       |FROM a2 WHERE np >= 1 AND nm >= 1 AND np * nm * 2 > n
       |ORDER BY user_id""".stripMargin

  /** Holt–Winters oracle: the α=β=γ=1/2 additive recursion replayed
    * as a recursive CTE whose state carries the 7-element seasonal
    * LIST (the operator reads the same values by accumulator index);
    * every step the identical signed HALF_UP halving, intermediates
    * repeated verbatim (the supertrend-oracle convention).
    */
  private val holtWintersOracle: String = {
    def half(num: String) =
      s"CASE WHEN $num >= 0 THEN ($num + 1) // 2 ELSE -((-($num) + 1) // 2) END"
    val lt = half("r.c * 1000000 - rec.seas[1] + rec.l + rec.b")
    val bt = half(s"rec.b + ($lt) - rec.l")
    val st = half(s"r.c * 1000000 - ($lt) + rec.seas[1]")
    s"""WITH RECURSIVE $tsClosesCte,
       |sl AS (SELECT user_id,
       |  (2 * sum(c * 1000000) + 7) // 14 AS l0,
       |  list(c * 1000000 ORDER BY rn) AS xs7
       |  FROM r WHERE rn <= 7 GROUP BY 1 HAVING count(*) = 7),
       |rec AS (
       |  SELECT user_id, CAST(7 AS BIGINT) AS rn, l0 AS l,
       |    CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS s,
       |    CAST(0 AS BIGINT) AS f,
       |    list_transform(xs7, x -> x - l0) AS seas
       |  FROM sl
       |  UNION ALL
       |  SELECT r.user_id, r.rn, ($lt) AS l, ($bt) AS b, ($st) AS s,
       |    ($lt) + ($bt) + rec.seas[2] AS f,
       |    list_concat(rec.seas[2:], [($st)]) AS seas
       |  FROM r JOIN rec ON r.user_id = rec.user_id AND r.rn = rec.rn + 1)
       |SELECT rec.user_id, r.day,
       |  CAST(rec.l AS DOUBLE) / 100000000.0 AS level,
       |  CAST(rec.b AS DOUBLE) / 100000000.0 AS trend,
       |  CAST(rec.s AS DOUBLE) / 100000000.0 AS seasonal,
       |  CAST(rec.f AS DOUBLE) / 100000000.0 AS forecast
       |FROM rec JOIN r ON r.user_id = rec.user_id AND r.rn = rec.rn
       |WHERE rec.rn >= 8
       |ORDER BY rec.user_id, r.day""".stripMargin
  }

  private val macdOracle: String =
    """WITH RECURSIVE dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, day, c * 1000000 AS ck,
        |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM dc),
        |ema AS (
        |  SELECT user_id, day, rn, ck, ck AS e12, ck AS e26 FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.day, r.rn, r.ck,
        |    (2 * (2 * r.ck + 11 * ema.e12) + 13) // 26,
        |    (2 * (2 * r.ck + 25 * ema.e26) + 27) // 54
        |  FROM r JOIN ema ON r.user_id = ema.user_id AND r.rn = ema.rn + 1),
        |m AS (SELECT user_id, day, rn, e12 - e26 AS macd FROM ema),
        |sg AS (
        |  SELECT user_id, day, rn, macd, macd AS sig FROM m WHERE rn = 1
        |  UNION ALL
        |  SELECT m.user_id, m.day, m.rn, m.macd,
        |    CASE WHEN 2 * m.macd + 8 * sg.sig >= 0
        |         THEN (2 * (2 * m.macd + 8 * sg.sig) + 10) // 20
        |         ELSE -((2 * -(2 * m.macd + 8 * sg.sig) + 10) // 20) END
        |  FROM m JOIN sg ON m.user_id = sg.user_id AND m.rn = sg.rn + 1)
        |SELECT user_id, day,
        |  CAST(macd AS DOUBLE) / 100000000.0 AS macd,
        |  CAST(sig AS DOUBLE) / 100000000.0 AS signal,
        |  CAST(macd - sig AS DOUBLE) / 100000000.0 AS histogram
        |FROM sg ORDER BY user_id, day""".stripMargin

  private val rsiWilderOracle: String =
    """WITH RECURSIVE dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, day, c,
        |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM dc),
        |d AS (SELECT user_id, day, rn - 1 AS drn,
        |  c - lag(c) OVER (PARTITION BY user_id ORDER BY rn) AS delta FROM r),
        |gl AS (SELECT user_id, day, drn,
        |  greatest(delta, 0) * 1000000 AS g, greatest(-delta, 0) * 1000000 AS l
        |  FROM d WHERE delta IS NOT NULL),
        |sd AS (SELECT user_id, day, drn, g, l,
        |  sum(g) OVER w AS cg, sum(l) OVER w AS cl, count(*) OVER w AS nd
        |  FROM gl
        |  WINDOW w AS (PARTITION BY user_id ORDER BY drn ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |rec AS (
        |  SELECT user_id, day, drn, (2 * cg + 14) // 28 AS wg, (2 * cl + 14) // 28 AS wl
        |  FROM sd WHERE drn = 14 AND nd = 14
        |  UNION ALL
        |  SELECT gl.user_id, gl.day, gl.drn,
        |    (2 * (rec.wg * 13 + gl.g) + 14) // 28,
        |    (2 * (rec.wl * 13 + gl.l) + 14) // 28
        |  FROM gl JOIN rec ON gl.user_id = rec.user_id AND gl.drn = rec.drn + 1)
        |SELECT user_id, day,
        |  CAST(CASE WHEN wg + wl = 0 THEN 5000
        |    ELSE (2 * wg * 10000 + (wg + wl)) // (2 * (wg + wl)) END AS BIGINT) AS rsi_bp
        |FROM rec ORDER BY user_id, day""".stripMargin

  private val keltnerOracle: String =
    """WITH RECURSIVE dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, day, h, l, c,
        |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS m FROM dc),
        |tp AS (SELECT user_id, day, rn,
        |  (2 * ((h + l + c) * 1000000) + 3) // 6 AS typ,
        |  (CASE WHEN rn = 1 THEN h - l
        |        ELSE greatest(h - l, abs(h - pc), abs(l - pc)) END) * 1000000 AS tr
        |  FROM (SELECT *, lag(c) OVER (PARTITION BY user_id ORDER BY rn) AS pc
        |        FROM r WHERE m >= 10)),
        |mid AS (
        |  SELECT user_id, rn, typ AS mid FROM tp WHERE rn = 1
        |  UNION ALL
        |  SELECT tp.user_id, tp.rn, (2 * (2 * tp.typ + 19 * mid.mid) + 21) // 42
        |  FROM tp JOIN mid ON tp.user_id = mid.user_id AND tp.rn = mid.rn + 1),
        |sd AS (SELECT user_id, rn,
        |  sum(tr) OVER (PARTITION BY user_id ORDER BY rn ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS str
        |  FROM tp),
        |atr AS (
        |  SELECT user_id, rn, (2 * str + 10) // 20 AS atr FROM sd WHERE rn = 10
        |  UNION ALL
        |  SELECT tp.user_id, tp.rn, (2 * (atr.atr * 9 + tp.tr) + 10) // 20
        |  FROM tp JOIN atr ON tp.user_id = atr.user_id AND tp.rn = atr.rn + 1)
        |SELECT tp.user_id, tp.day,
        |  CAST(mid.mid AS DOUBLE) / 100000000.0 AS mid,
        |  CAST(atr.atr AS DOUBLE) / 100000000.0 AS atr,
        |  CAST(mid.mid + 2 * atr.atr AS DOUBLE) / 100000000.0 AS upper_band,
        |  CAST(mid.mid - 2 * atr.atr AS DOUBLE) / 100000000.0 AS lower_band
        |FROM tp
        |JOIN mid ON tp.user_id = mid.user_id AND tp.rn = mid.rn
        |JOIN atr ON tp.user_id = atr.user_id AND tp.rn = atr.rn
        |ORDER BY tp.user_id, tp.day""".stripMargin

  /** Shared WITH-body of the DSIR oracles (dsir_logratio,
    * dsir_resample): add-one-smoothed target/raw unigram LMs, one
    * 6dp-rounded log term per word from exact integer products, and
    * the per-doc exact decimal sum `d(doc_id, n_tokens, s_lr)`.
    */
  private val dsirCteBody: String =
    """WITH w AS (SELECT doc_id, lang, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, lang, unnest(ws) AS word FROM w),
      |c AS (SELECT doc_id, word, count(*)::BIGINT AS cnt FROM t WHERE word <> '' GROUP BY 1, 2),
      |raw AS (SELECT word, sum(cnt)::BIGINT AS tf_r FROM c GROUP BY 1),
      |tgt AS (SELECT word, count(*)::BIGINT AS tf_t FROM t WHERE word <> '' AND lang = 'en' GROUP BY 1),
      |vo AS (SELECT raw.word, tf_r, coalesce(tf_t, 0) AS tf_t FROM raw LEFT JOIN tgt USING (word)),
      |st AS (SELECT count(*)::BIGINT AS v, sum(tf_r)::BIGINT AS n_r, sum(tf_t)::BIGINT AS n_t FROM vo),
      |sc AS (SELECT word, CAST(round(ln(
      |  CAST(CAST(tf_t + 1 AS HUGEINT) * (n_r + v) AS DOUBLE) /
      |  CAST(CAST(n_t + v AS HUGEINT) * (tf_r + 1) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lr
      |  FROM vo, st),
      |d AS (SELECT c.doc_id, sum(c.cnt)::BIGINT AS n_tokens, sum(c.cnt * sc.lr) AS s_lr
      |  FROM c JOIN sc USING (word) GROUP BY 1)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // the sketch gates hash only engine-portable columns: exact values
    // (recomputed exactly in DuckDB) and in-bound booleans — DuckDB
    // has no HLL/GK sketch, so its side of each boolean is `true`,
    // which is exactly the claim being checked: the Spark sketch met
    // its declared error bound on this input
    "hll_cardinality" ->
      "SELECT count(DISTINCT user_id)::BIGINT AS exact_users, true AS within_bound FROM events",
    "hll_rollup_indexed" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
        |true AS within_bound FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact pairwise overlap + the literal-true bound (hll convention:
    // an out-of-bound sketch estimate fails the hash compare)
    "hll_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |tp AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |  FROM (SELECT DISTINCT event_type FROM events) a,
        |       (SELECT DISTINCT event_type FROM events) b
        |  WHERE a.event_type < b.event_type),
        |ov AS (SELECT x.event_type AS type_a, y.event_type AS type_b, count(*)::BIGINT AS exact_overlap
        |  FROM ut x JOIN ut y ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT tp.type_a, tp.type_b, coalesce(ov.exact_overlap, 0) AS exact_overlap,
        |  true AS within_bound
        |FROM tp LEFT JOIN ov USING (type_a, type_b) ORDER BY type_a, type_b""".stripMargin,
    // value at rank ⌈p·n⌉ via row_number — same integer rank rule as
    // the Spark side's sketch-pruned selection
    "quantile_sketch" ->
      """WITH s AS (SELECT o_totalprice AS v, row_number() OVER (ORDER BY o_totalprice) AS rn,
        |count(*) OVER () AS n FROM orders)
        |SELECT n,
        |round(max(CASE WHEN rn = (n + 1) // 2 THEN v END), 2) AS p50_exact,
        |true AS p50_in_bound,
        |round(max(CASE WHEN rn = (9 * n + 9) // 10 THEN v END), 2) AS p90_exact,
        |true AS p90_in_bound,
        |round(max(CASE WHEN rn = (99 * n + 99) // 100 THEN v END), 2) AS p99_exact,
        |true AS p99_in_bound
        |FROM s GROUP BY n""".stripMargin,
    // exact values recomputed by rank; the Spark-side within_bound
    // (refined value landed in the histogram-predicted bin) is `true`
    // here — the claim under test
    "quantile_rollup_indexed" ->
      """WITH s AS (SELECT o_totalprice AS v, row_number() OVER (ORDER BY o_totalprice) AS rn,
        |count(*) OVER () AS n FROM orders),
        |t(p) AS (VALUES (50), (90), (99))
        |SELECT p::BIGINT AS p, n::BIGINT AS n,
        |round(max(CASE WHEN rn = (p * n + 99) // 100 THEN v END), 2) AS exact_value,
        |true AS within_bound
        |FROM s CROSS JOIN t GROUP BY p, n ORDER BY p""".stripMargin,
    "embed_cosine_dup" -> embedNearDupOracle(0.35),
    "embed_neardup_indexed" -> embedNearDupOracle(0.35),
    // stream-grown band index ≡ built-at-once (same w = 4 gate domain)
    "embed_stream_ingested" -> embedNearDupOracle(0.35),
    "embed_neardup_incremental" -> embedNearDupIncrOracle(0.35),
    "embed_pca_power" -> pcaPowerOracle(8, 64),
    "hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 500),
        |s AS (SELECT q.query_id, e.vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) + 0.0 AS cos_sim
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-7), i -> array_to_string(ws[i:i+7], ' '))) AS gram FROM w WHERE len(ws) >= 8),
        |qg AS (SELECT DISTINCT doc_id AS query_id, gram FROM g
        |  WHERE doc_id % 50 = 0 AND doc_id < 500),
        |ov AS (SELECT DISTINCT qg.query_id, g.doc_id AS vec_id
        |  FROM g JOIN qg USING (gram) WHERE g.doc_id <> qg.query_id),
        |f AS (SELECT s.query_id, s.vec_id, s.cos_sim FROM s
        |  ANTI JOIN ov ON s.query_id = ov.query_id AND s.vec_id = ov.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, vec_id) AS rn FROM f)
        |SELECT query_id, vec_id, cos_sim, rn FROM r WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin,
    "decontaminate_semantic" -> semanticDecontamOracle(10, 0.35),
    "ann_lsh_topk" -> lshTopKOracle(0L, 20),
    "dedup_minhash_lsh" -> jaccardPairsOracle(word = false, k = 5, threshold = 0.5),
    "dedup_edit_distance" -> editPairsOracle(k = 5, floor = 0.5, minSimBp = 7000L),
    "pair_sim_histogram" -> {
      val k = 5
      val shingles =
        s"CASE WHEN length(nt) <= $k THEN [nt] ELSE list_transform(range(1, length(nt) - ${k - 2}), i -> substring(nt, i, $k)) END"
      s"""WITH nrm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct($shingles)) AS s FROM nrm),
         |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |ipair AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |jp AS (SELECT CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard FROM ipair
         |  JOIN card ca ON ipair.a = ca.doc_id JOIN card cb ON ipair.b = cb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5)
         |SELECT CAST(floor(jaccard * 100) AS INTEGER) AS sim_band_pct,
         |  count(*) AS n_pairs
         |FROM jp GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "dedup_pr_curve" -> {
      val k = 5
      val shingles =
        s"CASE WHEN length(nt) <= $k THEN [nt] ELSE list_transform(range(1, length(nt) - ${k - 2}), i -> substring(nt, i, $k)) END"
      s"""WITH nrm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct($shingles)) AS s FROM nrm),
         |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |ipair AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |jp AS (SELECT CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard FROM ipair
         |  JOIN card ca ON ipair.a = ca.doc_id JOIN card cb ON ipair.b = cb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
         |t AS (SELECT CAST(sum(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_true FROM jp),
         |taus AS (SELECT CAST(50 + 5 * range AS INT) AS tau_pct FROM range(0, 11)),
         |agg AS (SELECT tau_pct, n_true,
         |  CAST(sum(CASE WHEN jaccard >= tau_pct / 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN jaccard >= tau_pct / 100.0 AND jaccard >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_tp
         |  FROM taus CROSS JOIN jp, t GROUP BY 1, 2)
         |SELECT tau_pct, n_kept, n_tp,
         |  CAST(CASE WHEN n_kept = 0 THEN 10000 ELSE (2 * n_tp * 10000 + n_kept) // (2 * n_kept) END AS BIGINT) AS precision_bp,
         |  CAST(CASE WHEN n_true = 0 THEN 10000 ELSE (2 * n_tp * 10000 + n_true) // (2 * n_true) END AS BIGINT) AS recall_bp
         |FROM agg ORDER BY tau_pct""".stripMargin
    },
    "latency_bands" ->
      """WITH j AS (SELECT o_orderpriority, l_orderkey, l_linenumber,
        |  date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lag_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |r AS (SELECT o_orderpriority, lag_days,
        |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY lag_days, l_orderkey, l_linenumber) AS rn,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS n FROM j),
        |e AS (SELECT o_orderpriority, lag_days, rn, n, unnest([50, 90, 99]) AS p FROM r)
        |SELECT o_orderpriority, CAST(p AS BIGINT) AS p,
        |  CAST(lag_days AS BIGINT) AS lag_days, n AS n_lines
        |FROM e WHERE rn = (p * n + 99) // 100
        |ORDER BY o_orderpriority, p""".stripMargin,
    "status_mix_trend" ->
      """WITH g AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |  count(*)::BIGINT AS n_orders,
        |  sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_f,
        |  sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_o,
        |  sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_p
        |  FROM orders GROUP BY 1)
        |SELECT month, n_orders,
        |  CAST((2 * n_f * 10000 + n_orders) // (2 * n_orders) AS BIGINT) AS f_bp,
        |  CAST((2 * n_o * 10000 + n_orders) // (2 * n_orders) AS BIGINT) AS o_bp,
        |  CAST((2 * n_p * 10000 + n_orders) // (2 * n_orders) AS BIGINT) AS p_bp
        |FROM g ORDER BY month""".stripMargin,
    "drawdown_duration" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT user_id, day, c,
        |  max(c) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
        |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n_days
        |  FROM dc),
        |u AS (SELECT user_id, day, n_days,
        |  rn - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM p WHERE c < peak),
        |r AS (SELECT user_id, n_days, island, count(*) AS run FROM u GROUP BY 1, 2, 3)
        |SELECT user_id, CAST(max(run) AS BIGINT) AS max_underwater_days, n_days
        |FROM r GROUP BY user_id, n_days ORDER BY user_id""".stripMargin,
    "dup_rate_by_source" -> {
      val k = 5
      val shingles =
        s"CASE WHEN length(nt) <= $k THEN [nt] ELSE list_transform(range(1, length(nt) - ${k - 2}), i -> substring(nt, i, $k)) END"
      s"""WITH nrm AS (SELECT doc_id, source, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS nt FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct($shingles)) AS s FROM nrm),
         |card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |ipair AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |jp AS (SELECT a, b FROM ipair
         |  JOIN card ca ON ipair.a = ca.doc_id JOIN card cb ON ipair.b = cb.doc_id
         |  WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= 0.5),
         |dd AS (SELECT DISTINCT doc_id FROM (
         |  SELECT a AS doc_id FROM jp UNION ALL SELECT b FROM jp)),
         |m AS (SELECT nrm.doc_id, source,
         |    CASE WHEN dd.doc_id IS NULL THEN 0 ELSE 1 END AS is_dup
         |  FROM nrm LEFT JOIN dd ON nrm.doc_id = dd.doc_id)
         |SELECT source, count(*) AS n_docs, sum(is_dup)::BIGINT AS n_dup_docs,
         |  CAST((sum(is_dup) * 10000 * 2 + count(*)) // (2 * count(*)) AS BIGINT)
         |    AS dup_bp
         |FROM m GROUP BY 1 ORDER BY source""".stripMargin
    },
    "dedup_keep_best" -> keepBestOracle,
    "quality_filter" ->
      """SELECT doc_id, word_count, quality FROM (
        |SELECT doc_id,
        |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS word_count,
        |CAST(((2 * least(len(string_split_regex(trim(text), '\s+')), 100) * (10000 - (CASE WHEN length(text) > 0 THEN (2 * len(regexp_extract_all(text, '[.!?,;:]')) * 10000 + length(text)) // (2 * length(text)) ELSE 0 END)) + 100) // 200) AS DOUBLE) / 10000.0 AS quality
        |FROM documents)
        |WHERE quality >= 0.5 AND word_count >= 20 ORDER BY doc_id""".stripMargin,
    "ngram_jaccard" -> jaccardPairsOracle(word = true, k = 3, threshold = 0.4),
    "dedup_containment" -> containmentPairsOracle(word = true, k = 5, threshold = 0.8),
    "dedup_containment_indexed" -> containmentPairsOracle(word = true, k = 5, threshold = 0.8),
    "dedup_cluster" -> clusterOracle,
    "dedup_cluster_stats" -> clusterStatsOracle,
    "dedup_simhash" -> simhashOracle(3),
    "rollup_daily" ->
      """SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS period_key, 'day' AS agg_type,
        |o_custkey AS entity_id, round(o_totalprice, 2) AS value FROM orders""".stripMargin,
    "rollup_monthly" -> grainOracle("%Y-%m", "month"),
    // IDENTICAL oracle to rollup_monthly: the partials-merge path must
    // reproduce the direct grain to the bit (the incremental-
    // maintenance guarantee the operator exists to prove)
    "rollup_incremental" -> grainOracle("%Y-%m", "month"),
    "rollup_partials_indexed" -> grainOracle("%Y-%m", "month"),
    // the bucketed copies carry identical data, so the oracle is the
    // plain raw-table join
    "join_bucketed_indexed" ->
      """SELECT o_orderkey, count(*)::BIGINT AS n_items,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same 16-bit interleave expanded to SQL bit arithmetic
    "zorder_key" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((user_id >> $i) & 1) << ${2 * i})",
        s"(((CAST(floor(value) AS BIGINT) >> $i) & 1) << ${2 * i + 1})"))
      s"""SELECT event_id, CAST(${terms.mkString(" | ")} AS BIGINT) AS z
         |FROM events ORDER BY event_id""".stripMargin
    },
    // MG summary with capacity above the domain = exact type counts
    "heavy_hitters" ->
      """SELECT event_type AS item, count(*)::BIGINT AS cnt
        |FROM events GROUP BY 1 ORDER BY cnt DESC, item""".stripMargin,
    // top-k hot keys with integer-bp share of total rows
    "skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT sum(cnt) AS total FROM c)
        |SELECT user_id, cnt, CAST((10000 * cnt) // total AS BIGINT) AS share_bp
        |FROM c, t ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin,
    // same int8 quantization as embed_quantize_values; snapshot halves
    // by the drift family's vec_id mod slices; cross-multiplied mean
    // difference in HUGEINT/decimal(38) — overflow-proof and exact
    "label_centroids" ->
      """WITH q AS (SELECT label, r.i AS pos,
        |  CAST(CASE WHEN scale = 0 THEN 0 ELSE round(v[r.i + 1] / scale) END AS BIGINT) AS q
        |  FROM (SELECT label, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
        |  range(64) r(i) WHERE r.i < len(v)),
        |a AS (SELECT label, pos, sum(q)::BIGINT AS s, count(*)::BIGINT AS n FROM q GROUP BY 1, 2)
        |SELECT label, pos, s, n,
        |  CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) * ((abs(s) * 20000 + n) // (2 * n)) AS DOUBLE) / 10000.0 AS mean_q
        |FROM a ORDER BY label, pos""".stripMargin,
    "embed_drift" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, label, r.i AS pos,
        |  CAST(CASE WHEN scale = 0 THEN 0 ELSE round(v[r.i + 1] / scale) END AS BIGINT) AS q
        |  FROM (SELECT vec_id, label, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM e),
        |  range(64) r(i) WHERE r.i < len(v)),
        |a AS (SELECT label, pos, sum(q) AS sa FROM q WHERE vec_id % 2 = 0 GROUP BY 1, 2),
        |b AS (SELECT label, pos, sum(q) AS sb FROM q WHERE vec_id % 3 = 0 GROUP BY 1, 2),
        |na AS (SELECT label, count(*) AS n_old FROM embeddings WHERE vec_id % 2 = 0 GROUP BY 1),
        |nb AS (SELECT label, count(*) AS n_new FROM embeddings WHERE vec_id % 3 = 0 GROUP BY 1),
        |j AS (SELECT a.label, abs(CAST(sa AS HUGEINT) * n_new - CAST(sb AS HUGEINT) * n_old) AS d, n_old, n_new
        |  FROM a JOIN b ON a.label = b.label AND a.pos = b.pos
        |  JOIN na ON a.label = na.label JOIN nb ON a.label = nb.label)
        |SELECT label, n_old, n_new,
        |CAST((sum(d) * 10000) // (CAST(n_old AS HUGEINT) * n_new) AS BIGINT) AS shift_mq
        |FROM j GROUP BY 1, 2, 3 ORDER BY label""".stripMargin,
    // nearest-rank percentile vector: value at rank ⌈p·n/100⌉, ties
    // broken by orderkey — rank selection, no interpolation
    "percentiles_entity" ->
      """WITH r AS (SELECT o_custkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS rn,
        |  count(*) OVER (PARTITION BY o_custkey) AS n FROM orders),
        |p AS (SELECT unnest([25, 50, 75, 90]) AS p)
        |SELECT o_custkey AS entity_id, CAST(p.p AS BIGINT) AS p,
        |round(o_totalprice, 2) AS value, n AS n_orders
        |FROM r, p WHERE rn = (p.p * n + 99) // 100
        |ORDER BY entity_id, p""".stripMargin,
    // sequential strictly-after min-time chaining, counts one-row
    "funnel_steps" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_name, count(*)::BIGINT AS n_users FROM s1
        |  UNION ALL SELECT 2, 'click', count(*) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        |ORDER BY step""".stripMargin,
    // plain overlap join; overlap in integer epoch seconds
    "interval_join" ->
      """WITH a AS (SELECT user_id AS key, event_id AS a_key, ts AS a_start,
        |  ts + INTERVAL 1 HOUR AS a_end FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id AS key, event_id AS b_key, ts AS b_start,
        |  ts + INTERVAL 2 HOUR AS b_end FROM events WHERE event_type = 'purchase')
        |SELECT a.key, a_key, b_key,
        |(epoch_us(least(a_end, b_end)) - epoch_us(greatest(a_start, b_start))) // 1000000 AS overlap_secs
        |FROM a JOIN b ON a.key = b.key AND a_start < b_end AND b_start < a_end
        |ORDER BY a_key, b_key""".stripMargin,
    // equi-key + residual validity window, half-open intervals
    "scd2_join" ->
      """WITH dim AS (
        |  SELECT c_custkey AS dim_key, DATE '1992-01-01' AS vf, DATE '1996-01-01' AS vt,
        |    c_mktsegment AS segment FROM customer
        |  UNION ALL
        |  SELECT c_custkey, DATE '1996-01-01', DATE '9999-12-31', c_mktsegment || '_V2' FROM customer)
        |SELECT o_orderkey, segment FROM orders JOIN dim
        |ON o_custkey = dim_key AND o_orderdate >= vf AND o_orderdate < vt
        |ORDER BY o_orderkey""".stripMargin,
    // fixed integer tier thresholds; as-of = the corpus' own max day
    "user_rfm" ->
      """WITH a AS (SELECT max(CAST(ts AS DATE)) AS as_of FROM events),
        |u AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_day, count(*) AS n_events,
        |  coalesce(CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) * 100 AS BIGINT), 0) AS cents
        |  FROM events GROUP BY 1),
        |s AS (SELECT user_id, CAST(datediff('day', last_day, as_of) AS BIGINT) AS days_since,
        |  n_events, cents FROM u, a)
        |SELECT user_id, days_since, n_events, CAST(cents AS DOUBLE) / 100 AS monetary,
        |'R' || (CASE WHEN days_since <= 2 THEN 3 WHEN days_since <= 7 THEN 2 ELSE 1 END)
        ||| 'F' || (CASE WHEN n_events >= 20 THEN 3 WHEN n_events >= 10 THEN 2 ELSE 1 END)
        ||| 'M' || (CASE WHEN cents >= 50000 THEN 3 WHEN cents >= 10000 THEN 2 WHEN cents > 0 THEN 1 ELSE 0 END) AS segment
        |FROM s ORDER BY user_id""".stripMargin,
    // one aggregate per table, FK as a count over the dim-joined scan
    "conversion_trend" ->
      """WITH ut AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, user_id, event_type
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |g AS (SELECT day,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_viewers,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchasers
        |  FROM ut GROUP BY 1)
        |SELECT day, n_viewers, n_purchasers,
        |  CAST(CASE WHEN n_viewers = 0 THEN 0
        |    ELSE (2 * n_purchasers * 10000 + n_viewers) // (2 * n_viewers) END AS BIGINT) AS conv_bp
        |FROM g ORDER BY day""".stripMargin,
    "dq_trend" ->
      """WITH g AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  count(*)::BIGINT AS n_events,
        |  CAST(count(*) FILTER (event_type NOT IN ('click','view','purchase','signup','error')) AS BIGINT) AS v_type,
        |  CAST(count(*) FILTER (value IS NULL OR value < 0) AS BIGINT) AS v_value,
        |  CAST(count(*) FILTER (user_id IS NULL) AS BIGINT) AS v_user
        |  FROM events GROUP BY 1)
        |SELECT day, n_events, v_type, v_value, v_user,
        |  CAST((2 * (v_type + v_value + v_user) * 10000 + n_events) // (2 * n_events) AS BIGINT) AS violation_bp
        |FROM g ORDER BY day""".stripMargin,
    "dq_report" ->
      """WITH o AS (SELECT count(*) AS n, count(*) FILTER (o_totalprice IS NULL OR o_totalprice <= 0) AS v1,
        |  count(*) FILTER (o_orderdate IS NULL) AS v2,
        |  count(*) FILTER (c.c_custkey IS NULL) AS v3
        |  FROM orders LEFT JOIN customer c ON o_custkey = c.c_custkey),
        |l AS (SELECT count(*) AS n,
        |  count(*) FILTER (l_quantity IS NULL OR l_quantity <= 0 OR l_quantity > 50) AS v1,
        |  count(*) FILTER (l_discount IS NULL OR l_discount < 0 OR l_discount > 1) AS v2,
        |  count(*) FILTER (l_extendedprice IS NULL OR l_extendedprice <= 0) AS v3
        |  FROM lineitem),
        |e AS (SELECT count(*) AS n,
        |  count(*) FILTER (event_type NOT IN ('click','view','purchase','signup','error')) AS v1,
        |  count(*) FILTER (value IS NULL OR value < 0) AS v2,
        |  count(*) FILTER (user_id IS NULL) AS v3
        |  FROM events)
        |SELECT "check", n_checked, n_violations, n_violations = 0 AS pass FROM (
        |  SELECT 'orders_total_positive' AS "check", n AS n_checked, v1 AS n_violations FROM o
        |  UNION ALL SELECT 'orders_date_present', n, v2 FROM o
        |  UNION ALL SELECT 'orders_customer_fk', n, v3 FROM o
        |  UNION ALL SELECT 'lineitem_qty_range', n, v1 FROM l
        |  UNION ALL SELECT 'lineitem_discount_range', n, v2 FROM l
        |  UNION ALL SELECT 'lineitem_price_positive', n, v3 FROM l
        |  UNION ALL SELECT 'events_type_enum', n, v1 FROM e
        |  UNION ALL SELECT 'events_value_nonneg', n, v2 FROM e
        |  UNION ALL SELECT 'events_user_present', n, v3 FROM e)
        |ORDER BY "check"""".stripMargin,
    // transitions normalized per source row in integer basis points
    "transition_probs" ->
      """WITH t AS (SELECT user_id, event_type,
        |lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |FROM events),
        |c AS (SELECT from_type, event_type AS to_type, count(*) AS n_transitions
        |FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |CAST((10000 * n_transitions) // (sum(n_transitions) OVER (PARTITION BY from_type)) AS BIGINT) AS prob_bp
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    // one single-row aggregate, stacked per column; numeric min/max
    // as doubles, non-numerics null — no cross-engine string rendering
    "table_profile" ->
      """WITH a AS (SELECT count(*) AS n,
        |count(*) FILTER (o_custkey IS NULL) AS ck_null, count(DISTINCT o_custkey) AS ck_distinct,
        |CAST(min(o_custkey) AS DOUBLE) AS ck_min, CAST(max(o_custkey) AS DOUBLE) AS ck_max,
        |count(*) FILTER (o_totalprice IS NULL) AS tp_null, count(DISTINCT o_totalprice) AS tp_distinct,
        |CAST(min(o_totalprice) AS DOUBLE) AS tp_min, CAST(max(o_totalprice) AS DOUBLE) AS tp_max,
        |count(*) FILTER (o_orderdate IS NULL) AS od_null, count(DISTINCT o_orderdate) AS od_distinct,
        |count(*) FILTER (o_orderstatus IS NULL) AS os_null, count(DISTINCT o_orderstatus) AS os_distinct
        |FROM orders)
        |SELECT "column", n, n_null, n_distinct, min_v, max_v FROM (
        |  SELECT 'o_custkey' AS "column", n, ck_null AS n_null, ck_distinct AS n_distinct, ck_min AS min_v, ck_max AS max_v FROM a
        |  UNION ALL SELECT 'o_totalprice', n, tp_null, tp_distinct, tp_min, tp_max FROM a
        |  UNION ALL SELECT 'o_orderdate', n, od_null, od_distinct, NULL, NULL FROM a
        |  UNION ALL SELECT 'o_orderstatus', n, os_null, os_distinct, NULL, NULL FROM a)
        |ORDER BY "column"""".stripMargin,
    // adjacent-pair transitions off one lag window; all counts
    "event_transitions" ->
      """WITH t AS (SELECT user_id, event_type,
        |lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |FROM events)
        |SELECT from_type, event_type AS to_type,
        |count(*) AS n_transitions, count(DISTINCT user_id) AS n_users
        |FROM t WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "rollup_multi" ->
      """SELECT l_suppkey AS entity_id, strftime(l_shipdate, '%Y-%m') AS period_key, 'month' AS agg_type,
        |round(sum(l_quantity), 2) AS sum_qty,
        |CAST((CAST(sum(l_quantity) AS HUGEINT) * 20000 + count(*)) // (count(*) * 2) AS DOUBLE) / 10000 AS avg_qty,
        |CAST((CAST(sum(p) * 100 AS HUGEINT) * 200 + count(*)) // (count(*) * 2) AS DOUBLE) / 10000 AS avg_price,
        |CAST(sum(p) AS DOUBLE) AS sum_price,
        |CAST(max(p) AS DOUBLE) AS max_price, CAST(min(p) AS DOUBLE) AS min_price,
        |CASE WHEN count(*) > 1 THEN round(sqrt(greatest((CAST(sum(p*p) AS DOUBLE) - CAST(sum(p) AS DOUBLE)*CAST(sum(p) AS DOUBLE)/count(*)) / (count(*)-1), 0)), 4) END AS std_price,
        |CAST((CAST(sum(dsc) * 100 AS HUGEINT) * 200 + count(*)) // (count(*) * 2) AS DOUBLE) / 10000 AS avg_disc,
        |count(*) AS cnt_value
        |FROM (SELECT l_suppkey, l_shipdate, l_quantity,
        |CAST(l_extendedprice AS DECIMAL(12,2)) AS p, CAST(l_discount AS DECIMAL(4,2)) AS dsc
        |FROM lineitem) GROUP BY 1, 2, 3""".stripMargin,
    "rollup_yearly" -> grainOracle("%Y", "year"),
    "rollup_combined" ->
      """SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS period_key, 'day' AS agg_type, o_custkey AS entity_id FROM orders
        |UNION ALL SELECT DISTINCT strftime(o_orderdate, '%Y-%m'), 'month', o_custkey FROM orders
        |UNION ALL SELECT DISTINCT strftime(o_orderdate, '%Y'), 'year', o_custkey FROM orders""".stripMargin,
    "schema_normalize" ->
      """SELECT event_id, user_id,
        |round(coalesce(CASE WHEN isnan(value) THEN 0.0 ELSE value END, 0.0), 2) AS value_clean,
        |CAST(floor(value) AS BIGINT) AS value_floor FROM events ORDER BY event_id""".stripMargin,
    "api_companies" -> "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey",
    "api_agg_types" ->
      """SELECT DISTINCT agg_type FROM (
        |SELECT 'day' AS agg_type, o_custkey FROM orders
        |UNION ALL SELECT 'month', o_custkey FROM orders
        |UNION ALL SELECT 'year', o_custkey FROM orders)
        |WHERE o_custkey = 1 ORDER BY agg_type""".stripMargin,
    "api_period_keys" ->
      """SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS period_key FROM orders
        |WHERE o_custkey = 1 ORDER BY period_key""".stripMargin,
    "api_data_range" ->
      s"""SELECT * FROM (${grainOracle("%Y-%m", "month")})
         |WHERE entity_id = 1 AND period_key >= '1996-01' AND period_key <= '1998-12'
         |ORDER BY period_key""".stripMargin,
    "api_data_point" ->
      s"""WITH g AS (${grainOracle("%Y-%m", "month")})
         |SELECT * FROM g WHERE entity_id = 1
         |AND period_key = (SELECT min(period_key) FROM g WHERE entity_id = 1)""".stripMargin,
    "api_report_list" ->
      """SELECT c_custkey, c_name, rn, total_count FROM (
        |SELECT c_custkey, c_name,
        |row_number() OVER (ORDER BY c_custkey) AS rn,
        |count(*) OVER () AS total_count
        |FROM customer WHERE lower(c_name) LIKE '%1%')
        |WHERE rn > 9 AND rn <= 18""".stripMargin,
    "api_search" ->
      """SELECT doc_id, source, lang,
        |strftime(DATE '2024-01-01' + CAST((doc_id * 37) % 365 AS INTEGER), '%Y-%m-%d') AS published
        |FROM documents
        |WHERE lower(text) LIKE '%join%' ORDER BY published DESC, doc_id DESC""".stripMargin,
    "api_paginate" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal, rn FROM (
        |SELECT c_custkey, c_name, c_acctbal,
        |row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn FROM customer)
        |WHERE rn > 9 AND rn <= 18""".stripMargin,
    "api_detail" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size,
        |round(p_retailprice, 2) AS retailprice FROM part WHERE p_partkey = 42""".stripMargin,
    "news_transform" ->
      """SELECT doc_id,
        |array_to_string(list_slice(string_split(substring(text, 1, 500), ' '), 1, 64), ' ') AS content,
        |array_to_string(list_slice(string_split(substring(text, 1, 500), ' '), 1, 24), ' ') AS summary,
        |CASE WHEN right(source, 1) IN ('0','2','4','6','8') THEN 'market_news' ELSE 'stock_news' END AS category,
        |lang,
        |CAST(len(string_split(array_to_string(list_slice(string_split(substring(text, 1, 500), ' '), 1, 64), ' '), ' ')) AS BIGINT) AS word_count,
        |CAST(len(string_split(array_to_string(list_slice(string_split(substring(text, 1, 500), ' '), 1, 24), ' '), ' ')) AS BIGINT) AS summary_length
        |FROM documents ORDER BY doc_id""".stripMargin,
    // BPE-budget truncation replay: per-word token counts via the SAME
    // nested-replace chain as the bpe_encode oracle applied inside a
    // list lambda, a running-sum window over the word index, and the
    // kept prefix re-joined. Monotone counts (each word ≥1 token) make
    // "cum ≤ budget" identical to the engine's first-overflow stop.
    "news_transform_bpe" -> {
      val wordChain = bpeReplaceChain(
        "regexp_replace(w, '([^ ])', chr(31)||'\\1'||chr(31), 'g')")
      val tokCount = s"((len($wordChain) - len(replace($wordChain, chr(31), ''))) // 2)"
      s"""WITH nt AS (SELECT doc_id, lang, source,
         |  lower(regexp_replace(trim(substring(text, 1, 500)), '\\s+', ' ', 'g')) AS c FROM documents),
         |t AS (SELECT doc_id, lang, source, string_split(c, ' ') AS ws,
         |  list_transform(string_split(c, ' '), w -> $tokCount) AS tc FROM nt),
         |u AS (SELECT doc_id, ws, tc, unnest(generate_series(1, len(ws))) AS i FROM t),
         |cum AS (SELECT doc_id, i, ws[i] AS w,
         |  sum(tc[i]) OVER (PARTITION BY doc_id ORDER BY i) AS ct FROM u),
         |k AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS content,
         |  CAST(max(ct) AS BIGINT) AS n_tokens FROM cum WHERE ct <= ${TextPipeline.TokenLimit} GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(k.content, '') AS content,
         |  CAST(coalesce(k.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(list_aggregate(tc, 'sum'), 0) AS BIGINT) AS n_tokens_full,
         |  (coalesce(list_aggregate(tc, 'sum'), 0) > ${TextPipeline.TokenLimit}) AS truncated,
         |  CASE WHEN right(source, 1) IN ('0','2','4','6','8') THEN 'market_news' ELSE 'stock_news' END AS category,
         |  lang
         |FROM t LEFT JOIN k ON t.doc_id = k.doc_id ORDER BY t.doc_id""".stripMargin
    },
    // lifecycle gates share one synthetic status CTE (doc_id mod 3);
    // "below loaded on the ladder" ≡ "status <> loaded" since loaded
    // tops the ladder
    "status_pending" ->
      """WITH st AS (SELECT doc_id,
        |CASE WHEN doc_id % 3 = 0 THEN 'loaded' ELSE 'transformed' END AS status
        |FROM documents WHERE doc_id % 3 IN (0, 1))
        |SELECT d.doc_id, d.lang, d.source, coalesce(st.status, 'new') AS status
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |WHERE coalesce(st.status, 'new') <> 'loaded'
        |ORDER BY d.doc_id""".stripMargin,
    "status_counts" ->
      """WITH st AS (SELECT doc_id,
        |CASE WHEN doc_id % 3 = 0 THEN 'loaded' ELSE 'transformed' END AS status
        |FROM documents WHERE doc_id % 3 IN (0, 1))
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs FROM (
        |SELECT coalesce(st.status, 'new') AS status
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id)
        |GROUP BY status ORDER BY status""".stripMargin,
    "news_dedup" ->
      """SELECT doc_id, title FROM (
        |SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') AS title,
        |row_number() OVER (PARTITION BY array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') ORDER BY doc_id) AS rn
        |FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "kv_extract" ->
      """SELECT event_id, event_type,
        |coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS k_value
        |FROM events ORDER BY event_id""".stripMargin,
    "kv_extract_xml" ->
      """SELECT event_id,
        |regexp_extract(payload, '<type(?:\s[^>]*)?>([^<]*)</type>', 1) AS type_value,
        |coalesce(CAST(nullif(regexp_extract(payload, '<k(?:\s[^>]*)?>([^<]*)</k>', 1), '') AS BIGINT), 0) AS k_value
        |FROM (SELECT event_id,
        |'<evt><type>' || event_type || '</type><k>' || coalesce(json_extract_string(props, '$.k'), '') || '</k></evt>' AS payload
        |FROM events) ORDER BY event_id""".stripMargin,
    // semantic oracle: the payload is synthesized from event columns,
    // so the expected fields are recomputed from the same base columns
    "kv_extract_nested" ->
      """SELECT event_id, event_type AS entity,
        |coalesce(CAST(nullif(json_extract_string(props, '$.k'), '') AS BIGINT), 0) AS revenue,
        |user_id AS current_year, 'IDR' AS unit,
        |event_id % 7 AS liabilities,
        |CASE WHEN event_id % 7 <> 0 THEN
        |round(CAST(coalesce(CAST(nullif(json_extract_string(props, '$.k'), '') AS BIGINT), 0) AS DOUBLE) / (event_id % 7), 4)
        |END AS leverage_ratio
        |FROM events ORDER BY event_id""".stripMargin,
    "financial_metrics" ->
      """WITH li AS (SELECT l_orderkey,
        |sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS net,
        |sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS discounted
        |FROM lineitem GROUP BY 1)
        |SELECT o_custkey, CAST(round(sum(net), 2) AS DOUBLE) AS revenue,
        |CAST(round(sum(discounted), 2) AS DOUBLE) AS cost,
        |CAST(round(sum(net - discounted), 2) AS DOUBLE) AS profit,
        |CASE WHEN CAST(round(sum(net), 2) AS DOUBLE) <> 0
        |THEN round(CAST(round(sum(net - discounted), 2) AS DOUBLE) / CAST(round(sum(net), 2) AS DOUBLE), 4) END AS margin_ratio
        |FROM orders JOIN li ON o_orderkey = l_orderkey GROUP BY 1 ORDER BY 1""".stripMargin,
    "format_rupiah" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS total,
        |'Rp ' || CASE WHEN o_totalprice < 0 THEN '-' ELSE '' END ||
        |replace(format('{:,}', CAST(round(abs(o_totalprice)*100) AS BIGINT) // 100), ',', '.') ||
        |',' || lpad(CAST(CAST(round(abs(o_totalprice)*100) AS BIGINT) % 100 AS VARCHAR), 2, '0') AS total_rupiah
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_disc_price,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_charge,
        |CAST((CAST(sum(l_quantity) AS HUGEINT) * 20000 + count(*)) // (count(*) * 2) AS DOUBLE) / 10000 AS avg_qty,
        |CAST((CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS HUGEINT) * 200 + count(*)) // (count(*) * 2) AS DOUBLE) / 10000 AS avg_price,
        |CAST((CAST(sum(CAST(l_discount AS DECIMAL(4,2))) * 100 AS HUGEINT) * 200 + count(*)) // (count(*) * 2) AS DOUBLE) / 10000 AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_top_revenue" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1996-03-15' AND l_shipdate > TIMESTAMP '1996-03-15'
        |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |JOIN lineitem ON l_suppkey = s_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1996-04-01'
        |AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q22_no_orders" ->
      """SELECT n_name, count(*)::BIGINT AS n_customers,
        |CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_acctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |AND o.o_orderdate >= TIMESTAMP '1997-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "latest_by_key" ->
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
        |event_type, value AS last_value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "window_rank" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rn FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    // identical result set to window_rank — the aggregate formulation
    // must be value-equal to the window one
    "window_rank_agg" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total, rn FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "moving_avg" ->
      """SELECT user_id, event_id,
        |round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS mavg
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "sessionize" ->
      """SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        |FROM (SELECT user_id, event_id, ts, value,
        |sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |FROM (SELECT user_id, event_id, ts, value,
        |CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 30000 THEN 1 ELSE 0 END AS new_s
        |FROM events))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // DuckDB's native ASOF JOIN is an independent implementation of
    // the as-of semantics — a strong oracle for the union+window plan
    "asof_join" ->
      """WITH p AS (SELECT user_id, ts, max(event_id) AS purchase_event_id, max(value) AS p_value
        |FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id,
        |strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |p.purchase_event_id,
        |strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |round(p.p_value, 2) AS purchase_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY event_id""".stripMargin,
    "retention_cohorts" ->
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
        |j AS (SELECT a.user_id, f.cohort, date_diff('day', f.cohort, a.wk) // 7 AS offset_weeks FROM a JOIN f USING (user_id)),
        |s AS (SELECT cohort, count(*)::BIGINT AS cohort_size FROM f GROUP BY 1),
        |g AS (SELECT cohort, offset_weeks, count(DISTINCT user_id)::BIGINT AS active_users FROM j GROUP BY 1, 2)
        |SELECT strftime(g.cohort, '%Y-%m-%d') AS cohort_week, CAST(g.offset_weeks AS BIGINT) AS offset_weeks, g.active_users, s.cohort_size,
        |CAST((g.active_users * 20000 + s.cohort_size) // (2 * s.cohort_size) AS DOUBLE)/10000 AS retention
        |FROM g JOIN s USING (cohort) ORDER BY 1, 2""".stripMargin,
    "funnel_conversion" ->
      """WITH c AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN c ON e.user_id = c.user_id
        |AND e.ts >= c.t1 WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT c.user_id, (p.user_id IS NOT NULL) AS purchased,
        |(p.user_id IS NOT NULL AND p.t2 < c.t1 + INTERVAL 3 DAY) AS converted,
        |CASE WHEN p.user_id IS NOT NULL THEN (epoch_us(p.t2) - epoch_us(c.t1)) // 1000000 END AS secs_to_purchase
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |ORDER BY c.user_id""".stripMargin,
    "range_join_2t" ->
      """WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS pts, CAST(value AS DECIMAL(18,4)) AS v FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id AS click_id, count(*)::BIGINT AS n_purchases,
        |CAST(round(sum(p.v), 2) AS DOUBLE) AS purchase_total
        |FROM c JOIN p ON c.user_id = p.user_id AND p.pts >= c.ts AND p.pts < c.ts + INTERVAL 7 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // equal-split attribution in scaled-integer units; div/% on |units|
    // with sign reapplied (Spark div truncates, DuckDB // floors —
    // they agree only on non-negatives), remainder to the earliest
    // click so per-purchase shares conserve the purchase value exactly
    "attribution_linear" ->
      """WITH c AS (SELECT user_id AS key, event_id AS a_key, ts AS a_date FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS key, event_id AS b_key, ts AS b_date, CAST(value AS DECIMAL(18,4)) AS b_val FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.a_key, c.a_date, p.b_key, CAST(p.b_val * 10000 AS BIGINT) AS units
        |  FROM c JOIN p ON c.key = p.key AND p.b_date >= c.a_date AND p.b_date < c.a_date + INTERVAL 7 DAY),
        |w AS (SELECT a_key, units,
        |  count(*) OVER (PARTITION BY b_key) AS n_clicks,
        |  row_number() OVER (PARTITION BY b_key ORDER BY a_date, a_key) AS rk FROM j),
        |s AS (SELECT a_key,
        |  (CASE WHEN units < 0 THEN -1 ELSE 1 END) * (abs(units) // n_clicks)
        |  + CASE WHEN rk = 1 THEN (CASE WHEN units < 0 THEN -1 ELSE 1 END) * (abs(units) % n_clicks) ELSE 0 END AS share_units
        |  FROM w)
        |SELECT a_key AS click_id, count(*)::BIGINT AS n_purchases,
        |CAST(sum(share_units) AS DOUBLE) / 10000 AS attributed
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "attribution_time_decay" ->
      """WITH c AS (SELECT user_id AS key, event_id AS a_key, ts AS a_date FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS key, event_id AS b_key, ts AS b_date, CAST(value AS DECIMAL(18,4)) AS b_val FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.a_key, c.a_date, p.b_key, p.b_date, CAST(p.b_val * 10000 AS BIGINT) AS units
        |  FROM c JOIN p ON c.key = p.key AND p.b_date >= c.a_date AND p.b_date < c.a_date + INTERVAL 7 DAY),
        |w0 AS (SELECT *, (epoch_us(b_date) - epoch_us(a_date)) // 86400000000 AS age FROM j),
        |w1 AS (SELECT *, CAST(1 AS BIGINT) << CAST(6 - age AS INTEGER) AS w FROM w0),
        |w2 AS (SELECT *, sum(w) OVER (PARTITION BY b_key) AS total_w,
        |    row_number() OVER (PARTITION BY b_key ORDER BY a_date DESC, a_key DESC) AS rk FROM w1),
        |w3 AS (SELECT *, (CASE WHEN units < 0 THEN -1 ELSE 1 END) *
        |    ((abs(units) * w) // total_w) AS share FROM w2),
        |w4 AS (SELECT *, sum(share) OVER (PARTITION BY b_key) AS given FROM w3),
        |s AS (SELECT a_key, share + CASE WHEN rk = 1 THEN units - given ELSE 0 END
        |    AS share_units FROM w4)
        |SELECT a_key AS click_id, count(*)::BIGINT AS n_purchases,
        |  CAST(sum(share_units) AS DOUBLE) / 10000 AS attributed
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "attribution_last_touch" ->
      """WITH c AS (SELECT user_id AS key, event_id AS a_key, ts AS a_date FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS key, event_id AS b_key, CAST(value AS DECIMAL(18,4)) AS b_val, ts AS b_date FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.a_key, c.a_date, p.b_key, p.b_val
        |  FROM c JOIN p ON c.key = p.key AND p.b_date >= c.a_date AND p.b_date < c.a_date + INTERVAL 7 DAY),
        |last AS (SELECT b_key,
        |    max_by(a_key, lpad(CAST(epoch_us(a_date) AS VARCHAR), 20, '0')
        |      || lpad(CAST(a_key AS VARCHAR), 12, '0')) AS click_id,
        |    min(b_val) AS b_val
        |  FROM j GROUP BY 1)
        |SELECT click_id, count(*)::BIGINT AS n_purchases,
        |  CAST(round(sum(b_val), 2) AS DOUBLE) AS attributed
        |FROM last GROUP BY 1 ORDER BY 1""".stripMargin,
    // staleness tolerance over DuckDB's native ASOF: matches older
    // than 12h are nulled by CASE, exactly the Spark-side predicate
    "asof_join_tolerance" ->
      """WITH p AS (SELECT user_id, ts, max(event_id) AS pid, max(value) AS pv
        |FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |j AS (SELECT c.event_id, c.user_id, c.ts, p.ts AS pts, p.pid, p.pv
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts)
        |SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |CASE WHEN pts >= ts - INTERVAL 12 HOUR THEN pid END AS purchase_event_id,
        |CASE WHEN pts >= ts - INTERVAL 12 HOUR THEN strftime(pts, '%Y-%m-%d %H:%M:%S') END AS purchase_ts,
        |CASE WHEN pts >= ts - INTERVAL 12 HOUR THEN round(pv, 2) END AS purchase_value
        |FROM j ORDER BY event_id""".stripMargin,
    "range_join" ->
      """SELECT a.o_orderkey, count(*) AS n_window,
        |CAST(round(sum(CAST(b.o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS window_total
        |FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
        |AND b.o_orderdate >= a.o_orderdate
        |AND b.o_orderdate < a.o_orderdate + INTERVAL 90 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sample_stratified" -> {
      // first 8 md5 hex digits as an integer, via per-digit strpos
      // (DuckDB has no hex→int conv builtin)
      val hv = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
      }.mkString(" +\n")
      s"""WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
         |b AS (SELECT doc_id, lang, CAST(($hv) % 100 AS INTEGER) AS bucket FROM h)
         |SELECT doc_id, lang, bucket FROM b
         |WHERE bucket < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
         |ORDER BY doc_id""".stripMargin
    },
    // same md5-bucket rule as sample_stratified; rates from the actual
    // per-language counts (HUGEINT-safe: DuckDB sum(BIGINT) is HUGEINT,
    // cast back for the schema compare)
    "sample_target_mix" -> {
      val hv = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
      }.mkString(" +\n")
      s"""WITH c AS (SELECT lang, count(*)::BIGINT AS cnt FROM documents GROUP BY 1),
         |r AS (SELECT lang, least(100, (100 * (SELECT sum(cnt) FROM c)) // ((SELECT count(*)::BIGINT FROM c) * cnt)) AS rate_pct FROM c),
         |h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
         |b AS (SELECT doc_id, lang, CAST(($hv) % 100 AS INTEGER) AS bucket FROM h)
         |SELECT b.doc_id, b.lang, CAST(r.rate_pct AS BIGINT) AS rate_pct
         |FROM b JOIN r USING (lang)
         |WHERE b.bucket < r.rate_pct
         |ORDER BY doc_id""".stripMargin
    },
    // α=½ temperature mix: sqrt is correctly rounded by IEEE spec in
    // both engines, so the floor'd rate is engine-exact
    "sample_temperature" -> {
      val hv = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
      }.mkString(" +\n")
      s"""WITH c AS (SELECT lang, count(*)::BIGINT AS cnt FROM documents GROUP BY 1),
         |r AS (SELECT lang, CAST(floor(100 * sqrt((SELECT min(cnt) FROM c)::DOUBLE / cnt::DOUBLE)) AS BIGINT) AS rate_pct FROM c),
         |h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
         |b AS (SELECT doc_id, lang, CAST(($hv) % 100 AS INTEGER) AS bucket FROM h)
         |SELECT b.doc_id, b.lang, r.rate_pct
         |FROM b JOIN r USING (lang)
         |WHERE b.bucket < r.rate_pct
         |ORDER BY doc_id""".stripMargin
    },
    // single-window oracle of the two-phase distributed top-k: the
    // per-lang global rank over (md5 hex, doc_id) — the shard
    // decomposition picks exactly these rows
    "sample_fixed_k" ->
      """WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk FROM h)
        |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM r
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin,
    // single-window form of the two-phase prefix sum: per-lang
    // exclusive cumsum in (shard, doc_id) order — shard offsets +
    // local windows decompose to exactly this (integer sums), so the
    // scalable Spark shape and this direct form are value-identical
    "mix_token_budget" -> {
      val hv = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
      }.mkString(" +\n")
      s"""WITH t AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents),
         |s AS (SELECT doc_id, lang, CAST(($hv) % 100 AS INTEGER) AS shard, n_tokens FROM t),
         |g AS (SELECT CAST(sum(n_tokens) // (2 * count(DISTINCT lang)) AS BIGINT) AS budget FROM s),
         |o AS (SELECT doc_id, lang, n_tokens,
         |CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY shard, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before FROM s)
         |SELECT doc_id, lang, n_tokens, tokens_before FROM o, g
         |WHERE tokens_before < budget ORDER BY doc_id""".stripMargin
    },
    // integer basis-point scores → histogram cum-counts → tie-sharing
    // tertile thresholds; q_bp comes straight from the integer
    // quality identity, so no float rounding exists to split engines
    "curriculum_order" ->
      """WITH q AS (SELECT doc_id,
        |CAST(((2 * least(len(string_split_regex(trim(text), '\s+')), 100) * (10000 - (CASE WHEN length(text) > 0 THEN (2 * len(regexp_extract_all(text, '[.!?,;:]')) * 10000 + length(text)) // (2 * length(text)) ELSE 0 END)) + 100) // 200) AS BIGINT) AS q_bp
        |FROM documents),
        |h AS (SELECT q_bp, count(*) AS cnt FROM q GROUP BY 1),
        |c AS (SELECT q_bp, sum(cnt) OVER (ORDER BY q_bp DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |       (SELECT sum(cnt) FROM h) AS total FROM h),
        |th AS (SELECT max(CASE WHEN cum >= (total + 2) // 3 THEN q_bp END) AS b1,
        |              max(CASE WHEN cum >= (2 * total + 2) // 3 THEN q_bp END) AS b2 FROM c)
        |SELECT doc_id, q_bp,
        |CAST(CASE WHEN q_bp >= b1 THEN 1 WHEN q_bp >= b2 THEN 2 ELSE 3 END AS BIGINT) AS phase
        |FROM q, th ORDER BY doc_id""".stripMargin,
    // same recursive-CTE components as dedup_cluster, split by the
    // md5 bucket of the CLUSTER id (near-dups share a split by
    // construction)
    "split_leakage_safe" -> leakageSplitOracle,
    // same per-digit hex→int arithmetic as sample_stratified, applied
    // to md5('1:' || doc_id); pos ranks the full hex key within the
    // shard (ties impossible, but doc_id tiebreak keeps both engines'
    // sorts total)
    "train_shards" -> {
      val hv = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
      }.mkString(" +\n")
      s"""WITH h AS (SELECT doc_id, md5('1:' || CAST(doc_id AS VARCHAR)) AS hx FROM documents),
         |s AS (SELECT doc_id, hx, CAST(($hv) % 8 AS INTEGER) AS shard FROM h)
         |SELECT doc_id, shard,
         |CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT) AS pos
         |FROM s ORDER BY doc_id""".stripMargin
    },
    // the persisted-index twins: IDENTICAL oracles — the index path
    // must reproduce the direct computation exactly
    "dedup_minhash_lsh_indexed" -> jaccardPairsOracle(word = false, k = 5, threshold = 0.5),
    // stream-ingested index ≡ built-at-once index: same oracle
    "dedup_lsh_stream_ingested" -> jaccardPairsOracle(word = false, k = 5, threshold = 0.5),
    // stream-grown index ≡ built-at-once index, per family: each
    // stream-ingest gate shares its batch-built twin's oracle verbatim
    "containment_stream_ingested" -> containmentPairsOracle(word = true, k = 5, threshold = 0.8),
    "dedup_lsh_incremental" -> lshIncrementalOracle,
    "dedup_containment_incremental" -> containmentIncrementalOracle,
    "dedup_cluster_incremental" -> clusterIncrOracle,
    "cluster_upsert_stats" -> clusterUpsertStatsOracle,
    // the stream-merged live rows must equal the same full rebuild
    "cluster_upsert_stream_ingested" -> clusterUpsertStatsOracle,
    "dedup_keep_best_indexed" -> keepBestOracle,
    "cluster_stats_indexed" -> clusterStatsOracle,
    "dedup_weights" -> weightsOracle,
    // SoftDeDup realized: the weights CTEs + the shared md5 bucket
    // rule, keep iff bucket·10⁴ < ⌊10⁶/size⌋ (all integer); the
    // persisted-index twin shares it (value-identical by contract)
    "dedup_weighted_sample" -> weightedSampleOracle,
    "weighted_sample_indexed" -> weightedSampleOracle,
    // the theoretical S-curve: repeated squarings re-rounded to 6dp
    // per step (engine-exact — no float pow anywhere)
    "lsh_s_curve" ->
      """WITH s AS (SELECT CAST(range * 5 AS INT) AS s_pct,
        |  CAST(CAST(range * 5 AS DECIMAL(18,6)) * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(18,6)) AS x0
        |  FROM range(1, 21)),
        |a1 AS (SELECT s_pct, CAST(round(CAST(x0 * x0 AS DECIMAL(38,12)), 6) AS DECIMAL(18,6)) AS x FROM s),
        |a2 AS (SELECT s_pct, CAST(round(CAST(x * x AS DECIMAL(38,12)), 6) AS DECIMAL(18,6)) AS x FROM a1),
        |a3 AS (SELECT s_pct, CAST(round(CAST(x * x AS DECIMAL(38,12)), 6) AS DECIMAL(18,6)) AS x FROM a2),
        |q0 AS (SELECT s_pct, x AS p_band,
        |  CAST(CAST(1 AS DECIMAL(18,6)) - x AS DECIMAL(18,6)) AS q FROM a3),
        |b1 AS (SELECT s_pct, p_band, CAST(round(CAST(q * q AS DECIMAL(38,12)), 6) AS DECIMAL(18,6)) AS q FROM q0),
        |b2 AS (SELECT s_pct, p_band, CAST(round(CAST(q * q AS DECIMAL(38,12)), 6) AS DECIMAL(18,6)) AS q FROM b1),
        |b3 AS (SELECT s_pct, p_band, CAST(round(CAST(q * q AS DECIMAL(38,12)), 6) AS DECIMAL(18,6)) AS q FROM b2)
        |SELECT s_pct, CAST(p_band AS DOUBLE) AS p_band,
        |  CAST(CAST(CAST(1 AS DECIMAL(18,6)) - q AS DECIMAL(18,6)) AS DOUBLE) AS p_candidate
        |FROM b3 ORDER BY s_pct""".stripMargin,
    "dedup_weights_indexed" -> weightsOracle,
    "split_from_index" -> leakageSplitOracle,
    // exact-guarantee probe over the persisted IVF index → brute
    // force is the correct oracle, same as ann_ivf_topk
    "ann_ivf_indexed" ->
      """SELECT e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 7) q
        |WHERE e.vec_id <> 7 ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    // aged-index probe, same exact guarantee: corpus ∪ appended batch
    // IS the whole embeddings table, so brute force over it is the
    // correct oracle exactly as for ann_ivf_indexed
    // stream-grown IVF lists probe exactly like batch-grown ones
    "ivf_stream_ingested" ->
      """SELECT e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 7) q
        |WHERE e.vec_id <> 7 ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    "ann_ivf_incremental" ->
      """SELECT e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 7) q
        |WHERE e.vec_id <> 7 ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    // retrained-index probe: live rows = everything minus the takedown
    // slice; the exact guarantee survives the in-place retrain
    "ann_retrained_probe" ->
      """SELECT e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 7) q
        |WHERE e.vec_id <> 7 AND e.vec_id % 97 <> 3
        |ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    // compacted-index probe: identical live set (tombstones folded
    // into the files instead of merged at read) — same oracle shape
    "ann_ivf_compacted" ->
      """SELECT e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 7) q
        |WHERE e.vec_id <> 7 AND e.vec_id % 97 <> 3
        |ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    // exact-guarantee probe over the TWO-LEVEL index: the triangle-
    // inequality bounds hold over ANY assignment, so brute force is
    // the correct oracle regardless of the trained books
    "ann_ivf_twolevel" ->
      """SELECT e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 7) q
        |WHERE e.vec_id <> 7 ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    // two-level index grown by the factored append: union brute force,
    // exactly like ann_ivf_incremental
    "ann_ivf_twolevel_incremental" ->
      """SELECT e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 7) q
        |WHERE e.vec_id <> 7 ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    // stream-grown two-level lists probe exactly like batch-grown ones
    "ivf_twolevel_stream_ingested" ->
      """SELECT e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 7) q
        |WHERE e.vec_id <> 7 ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    // retrained two-level: live rows = everything minus the takedown
    // slice, exactly like ann_retrained_probe
    "ann_ivf_twolevel_retrained" ->
      """SELECT e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 7) q
        |WHERE e.vec_id <> 7 AND e.vec_id % 97 <> 3
        |ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    // curation loop: components over residue ∪ ADMITTED rows only —
    // admission replay (a batch row is refused when any same-list
    // residue row is within tau), then the within-list τ-edges among
    // LIVE rows, recursive-reach min-label, size histogram
    "semantic_curation_stream_ingested" ->
      (headAssignCteFor("WHERE vec_id % 13 <> 0")
        .replaceFirst("WITH ", "WITH RECURSIVE ") + curationBody),
    // the FACTORED curation loop: the identical replay over the
    // two-level residue head books — only the assignment prefix
    // differs, exactly the code relationship the streaming stage has
    "semantic_curation_twolevel_stream_ingested" ->
      (twoLevelAssignCteFor("WHERE vec_id % 13 <> 0")
        .replaceFirst("WITH ", "WITH RECURSIVE ") + curationBody),
    // flat assignment-cost key: the shared head-codebook assignment,
    // aggregated to per-list sizes
    "ivf_assign_flat" ->
      (headAssignCte +
        """sz AS (SELECT list_id, count(*)::BIGINT AS n_vectors FROM asg GROUP BY 1)
          |SELECT CAST(list_id AS INTEGER) AS list_id, n_vectors
          |FROM sz ORDER BY list_id""".stripMargin),
    // two-level assignment-cost key: coarse book = first √k embeddings
    // by vec_id, fine book per cell = the cell's first √k members by
    // vec_id (both SQL-replayable), argmins on the same sequential-fold
    // L2 with ties to the lowest id, list_id = cid·√k + fid
    "ivf_assign_twolevel" -> twoLevelAssignOracle,
    // same pass, same oracle (see the key's comment)
    "ivf_assign_twolevel_join" -> twoLevelAssignOracle,
    // day diffs and truncating div only — integer-exact on both
    // engines; published is the api_search ingest derivation
    "sample_recency" -> {
      val hv = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
      }.mkString(" +\n")
      s"""WITH p AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx,
         |  DATE '2024-01-01' + CAST((doc_id * 37) % 365 AS INTEGER) AS pub FROM documents),
         |a AS (SELECT doc_id, hx, strftime(pub, '%Y-%m-%d') AS published,
         |  datediff('day', pub, DATE '2024-12-31') AS days_old FROM p),
         |r AS (SELECT doc_id, hx, published, CAST(days_old AS BIGINT) AS days_old,
         |  greatest(10, 100 - (days_old // 30) * 15)::BIGINT AS rate_pct FROM a)
         |SELECT doc_id, published, days_old, rate_pct FROM r
         |WHERE CAST(($hv) % 100 AS INTEGER) < rate_pct
         |ORDER BY doc_id""".stripMargin
    },
    // offsets/sequence ids are exact integer arithmetic on both
    // engines (non-negative, so truncating div == floor div); the
    // shard is the same md5 bucket as sample_stratified
    "pack_sequences" -> {
      val hv = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
      }.mkString(" +\n")
      s"""WITH t AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents),
         |s AS (SELECT doc_id, lang, CAST(($hv) % 100 AS INTEGER) AS shard, n_tokens FROM t),
         |o AS (SELECT doc_id, lang, shard, n_tokens,
         |CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset FROM s)
         |SELECT doc_id, lang, shard, n_tokens, token_offset,
         |token_offset // 512 AS seq_first,
         |(token_offset + greatest(n_tokens, 1) - 1) // 512 AS seq_last
         |FROM o ORDER BY doc_id""".stripMargin
    },
    // pack utilization per (lang, shard): only the last sequence can
    // be partial; fill via the HALF_UP bp identity, all-integer
    "pack_efficiency" -> {
      val hv = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
      }.mkString(" +\n")
      s"""WITH t AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx,
         |  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents),
         |s AS (SELECT doc_id, lang, CAST(($hv) % 100 AS INTEGER) AS shard, n_tokens FROM t),
         |o AS (SELECT doc_id, lang, shard, n_tokens,
         |CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset FROM s),
         |q AS (SELECT doc_id, lang, shard, n_tokens,
         |(token_offset + greatest(n_tokens, 1) - 1) // 512 AS seq_last FROM o),
         |a AS (SELECT lang, shard, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS total_tokens,
         |  (max(seq_last) + 1)::BIGINT AS n_seqs FROM q GROUP BY 1, 2)
         |SELECT lang, shard, n_docs, total_tokens, n_seqs,
         |  CAST(n_seqs * 512 AS BIGINT) AS capacity,
         |  CAST((2 * total_tokens * 10000 + n_seqs * 512) // (2 * n_seqs * 512) AS BIGINT) AS fill_bp
         |FROM a ORDER BY lang, shard""".stripMargin
    },
    // below-mean-frequency token rate: the rare/common cut is
    // tf < ceil(total/|vocab|) — integer, overflow-free, engine-exact
    "rarity_score" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word FROM documents),
        |t2 AS (SELECT * FROM toks WHERE word <> ''),
        |vocab AS (SELECT word, count(*)::BIGINT AS tf FROM t2 GROUP BY 1),
        |st AS (SELECT ((sum(tf) + count(*) - 1) // count(*))::BIGINT AS mean_ceil FROM vocab)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |  sum(CASE WHEN vocab.tf < st.mean_ceil THEN 1 ELSE 0 END)::BIGINT AS n_rare,
        |  ((10000 * sum(CASE WHEN vocab.tf < st.mean_ceil THEN 1 ELSE 0 END)) // count(*))::BIGINT AS rare_bp
        |FROM t2 JOIN vocab USING (word), st
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "pack_sequences_bpe" -> bpePackOracleSql,
    // sliding-window chunking: all-integer boundaries; DuckDB list
    // slice ws[a:b] is 1-based inclusive = Spark slice(ws, a, 32)
    "chunk_documents" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |n AS (SELECT doc_id, ws, CASE WHEN ws = [''] THEN 0 ELSE len(ws) END AS nw FROM w),
        |c AS (SELECT doc_id, ws, nw, unnest(generate_series(0,
        |  CASE WHEN nw <= 32 THEN 0 ELSE (nw - 32 + 24 - 1) // 24 END)) AS chunk_idx
        |  FROM n WHERE nw > 0)
        |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
        |  array_to_string(ws[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk_text,
        |  least(32, nw - chunk_idx * 24)::BIGINT AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "top_k" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total FROM orders
        |ORDER BY total DESC, o_orderkey LIMIT 100""".stripMargin,
    // the salted two-stage agg must equal the PLAIN aggregation —
    // that equality is exactly what the oracle checks
    "skew_salted_agg" ->
      """SELECT l_returnflag,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_price,
        |round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // plain join+group — salting must be value-invisible
    "skew_salted_join" ->
      """SELECT o_orderpriority,
        |CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_price,
        |count(*)::BIGINT AS n_lineitems
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // rank-based lower median: same integer selection rule on both
    // engines (interpolated medians diverge in the last double ulp)
    "rollup_median" ->
      """SELECT o_custkey AS entity_id, round(o_totalprice, 2) AS median_price, n AS n_orders
        |FROM (SELECT o_custkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS rn,
        |count(*) OVER (PARTITION BY o_custkey) AS n
        |FROM orders)
        |WHERE rn = (n + 1) // 2 ORDER BY entity_id""".stripMargin,
    "region_pivot" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |CAST(coalesce(round(sum(v) FILTER (WHERE r = 'africa'), 2), 0) AS DOUBLE) AS africa,
        |CAST(coalesce(round(sum(v) FILTER (WHERE r = 'america'), 2), 0) AS DOUBLE) AS america,
        |CAST(coalesce(round(sum(v) FILTER (WHERE r = 'asia'), 2), 0) AS DOUBLE) AS asia,
        |CAST(coalesce(round(sum(v) FILTER (WHERE r = 'europe'), 2), 0) AS DOUBLE) AS europe,
        |CAST(coalesce(round(sum(v) FILTER (WHERE r = 'middle_east'), 2), 0) AS DOUBLE) AS middle_east
        |FROM (SELECT o_orderdate, CAST(o_totalprice AS DECIMAL(12,2)) AS v,
        |lower(replace(r_name, ' ', '_')) AS r
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "embed_quantize" ->
      """SELECT vec_id, scale,
        |CAST(list_sum(list_transform(v, x -> CAST(abs(CASE WHEN scale = 0 THEN 0 ELSE round(x / scale) END) AS BIGINT))) AS BIGINT) AS l1,
        |CAST(list_max(list_transform(v, x -> CASE WHEN scale = 0 THEN 0 ELSE round(x / scale) END)) AS BIGINT) AS qmax,
        |CAST(list_min(list_transform(v, x -> CASE WHEN scale = 0 THEN 0 ELSE round(x / scale) END)) AS BIGINT) AS qmin
        |FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings))
        |ORDER BY vec_id""".stripMargin,
    // constant range cross join (DuckDB's generate_series is not
    // lateral-capable); the len(v) guard keeps it dim-agnostic up to
    // the 64-dim testdata width
    "embed_quantize_values" ->
      """SELECT vec_id, r.i AS pos,
        |CAST(CASE WHEN scale = 0 THEN 0 ELSE round(v[r.i + 1] / scale) END AS INTEGER) AS q
        |FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
        |range(64) r(i) WHERE r.i < len(v)
        |ORDER BY vec_id, pos""".stripMargin,
    "embed_l2_normalize" ->
      """SELECT vec_id, r.i AS pos,
        |round(CASE WHEN l2 = 0 THEN 0 ELSE v[r.i + 1] / l2 END, 6) + 0.0 AS nv
        |FROM (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS l2
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
        |range(64) r(i) WHERE r.i < len(v)
        |ORDER BY vec_id, pos""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        |min(doc_id) AS canonical_doc_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY canonical_doc_id""".stripMargin,
    // cross-doc duplicated n-gram spans: dup grams on the SAME 64-bit
    // md5-prefix key as the Spark side, totals derived arithmetically
    "dup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-7), i -> array_to_string(ws[i:i+7], ' '))) AS gram FROM w WHERE len(ws) >= 8),
        |k AS (SELECT doc_id, substr(md5(gram), 1, 16) AS gk FROM g),
        |d AS (SELECT gk FROM k GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |c AS (SELECT doc_id, count(*)::BIGINT AS n_dup_positions FROM k JOIN d USING (gk) GROUP BY 1),
        |t AS (SELECT doc_id, greatest(len(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) - 7, 0)::BIGINT AS n_grams FROM documents)
        |SELECT t.doc_id, t.n_grams, coalesce(c.n_dup_positions, 0)::BIGINT AS n_dup_positions,
        |CASE WHEN t.n_grams > 0 THEN CAST((coalesce(c.n_dup_positions, 0) * 20000 + t.n_grams) // (2 * t.n_grams) AS DOUBLE) / 10000 ELSE 0.0 END AS dup_frac
        |FROM t LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin,
    // the span-removal rewrite: covered positions re-derived from the
    // non-canonical occurrences, survivors re-joined in token order
    "strip_dup_spans" ->
      """WITH w AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt FROM documents),
        |t AS (SELECT doc_id, CASE WHEN nt = '' THEN CAST([] AS VARCHAR[]) ELSE string_split(nt, ' ') END AS ws FROM w),
        |g AS (SELECT doc_id, u.gpos AS gpos, u.gk AS gk FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
        |    i -> {'gpos': i - 1, 'gk': substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 16)})) AS u
        |  FROM t WHERE len(ws) >= 8)),
        |own AS (SELECT gk, min(doc_id) AS owner FROM g GROUP BY 1 HAVING min(doc_id) <> max(doc_id)),
        |rem AS (SELECT g.doc_id, g.gpos FROM g JOIN own USING (gk) WHERE g.doc_id <> own.owner),
        |cov AS (SELECT DISTINCT doc_id, gpos + r.i AS tpos FROM rem, range(8) r(i)),
        |tok AS (SELECT doc_id, v.tpos AS tpos, v.tok AS tok FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
        |    i -> {'tpos': i - 1, 'tok': ws[i]})) AS v FROM t)),
        |kept AS (SELECT tok.doc_id, tok.tpos, tok.tok FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.tpos = cov.tpos WHERE cov.tpos IS NULL),
        |a AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS kept_text FROM kept GROUP BY 1),
        |c AS (SELECT doc_id, count(*)::BIGINT AS n_removed FROM cov GROUP BY 1)
        |SELECT t.doc_id, coalesce(a.kept_text, '') AS kept_text, len(t.ws)::BIGINT AS n_tokens,
        |coalesce(c.n_removed, 0)::BIGINT AS n_removed
        |FROM t LEFT JOIN a USING (doc_id) LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin,
    // per-source reputation: quality CTE is the quality_score oracle's
    // composite, 1e4-scaled to a BIGINT so the mean is order-exact;
    // dup flag is the dedup_exact canonical rule
    "source_reputation" ->
      """WITH q AS (SELECT doc_id, CAST(((2 * least(len(string_split_regex(trim(text), '\s+')), 100) * (10000 - (CASE WHEN length(text) > 0 THEN (2 * len(regexp_extract_all(text, '[.!?,;:]')) * 10000 + length(text)) // (2 * length(text)) ELSE 0 END)) + 100) // 200) AS BIGINT) AS q4 FROM documents),
        |fp AS (SELECT doc_id, source, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f FROM documents),
        |canon AS (SELECT f, min(doc_id) AS canon_id FROM fp GROUP BY 1),
        |fl AS (SELECT fp.doc_id, fp.source, CASE WHEN fp.doc_id <> canon.canon_id THEN 1 ELSE 0 END AS is_dup FROM fp JOIN canon USING (f)),
        |a AS (SELECT source, count(*)::BIGINT AS n_docs, sum(q.q4)::BIGINT AS q4sum, sum(fl.is_dup)::BIGINT AS n_dups FROM fl JOIN q USING (doc_id) GROUP BY 1)
        |SELECT source, n_docs, CAST((q4sum * 2 + n_docs) // (2 * n_docs) AS DOUBLE) / 10000 AS mean_quality,
        |n_dups, CAST((n_dups * 20000 + n_docs) // (2 * n_docs) AS DOUBLE) / 10000 AS dup_frac,
        |(mean_quality < 0.5 OR dup_frac > 0.2) AS blocked
        |FROM a ORDER BY source""".stripMargin,
    // the doc-level effect: drop every document from a blocked source
    "source_filter" ->
      """WITH q AS (SELECT doc_id, CAST(((2 * least(len(string_split_regex(trim(text), '\s+')), 100) * (10000 - (CASE WHEN length(text) > 0 THEN (2 * len(regexp_extract_all(text, '[.!?,;:]')) * 10000 + length(text)) // (2 * length(text)) ELSE 0 END)) + 100) // 200) AS BIGINT) AS q4 FROM documents),
        |fp AS (SELECT doc_id, source, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f FROM documents),
        |canon AS (SELECT f, min(doc_id) AS canon_id FROM fp GROUP BY 1),
        |fl AS (SELECT fp.doc_id, fp.source, CASE WHEN fp.doc_id <> canon.canon_id THEN 1 ELSE 0 END AS is_dup FROM fp JOIN canon USING (f)),
        |a AS (SELECT source, count(*)::BIGINT AS n_docs, sum(q.q4)::BIGINT AS q4sum, sum(fl.is_dup)::BIGINT AS n_dups FROM fl JOIN q USING (doc_id) GROUP BY 1),
        |blk AS (SELECT source FROM a WHERE CAST((q4sum * 2 + n_docs) // (2 * n_docs) AS DOUBLE) / 10000 < 0.5 OR CAST((n_dups * 20000 + n_docs) // (2 * n_docs) AS DOUBLE) / 10000 > 0.2)
        |SELECT doc_id, source, lang FROM documents WHERE source NOT IN (SELECT source FROM blk) ORDER BY doc_id""".stripMargin,
    "ann_cosine_topk" ->
      """SELECT e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0 ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    "ann_filtered_topk" ->
      """SELECT e.vec_id, e.label,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding, label FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0 AND e.label = q.label
        |ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    "ann_batch_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 500),
        |s AS (SELECT q.query_id, e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
        |SELECT query_id, vec_id, cos_sim, rn FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // brute force IS the correct oracle for ivfTopKExact: its bound
    // logic guarantees the true top-k on any corpus
    "ann_ivf_topk" ->
      """SELECT e.vec_id,
        |round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) + 0.0 AS cos_sim
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 7) q
        |WHERE e.vec_id <> 7 ORDER BY cos_sim DESC, e.vec_id LIMIT 20""".stripMargin,
    "retrieval_eval" -> retrievalEvalOracle,
    // SemDeDup / kNN-graph oracles: replay the head codebook (16
    // smallest vec_ids), every row's list assignment (the same
    // sequential-fold L2 argmin as the drift oracle — the IEEE chain
    // NearestCentroidExpr runs, ties to the lowest list), then the
    // within-cluster pair set — earlier-id prune rule for semdedup,
    // per-vector cosine-DESC window for the graph
    "semdedup_prune" -> (headAssignCte + semdedupPruneBody),
    // the FACTORED twin: same prune body over the two-level assignment
    "semdedup_twolevel" -> (twoLevelAssignCteFor("") + semdedupPruneBody),
    "semdedup_stats" ->
      (headAssignCte +
        """pr AS (SELECT b.vec_id AS vec_id
          |  FROM asg a JOIN asg b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
          |  JOIN ev ea ON ea.vec_id = a.vec_id JOIN ev eb ON eb.vec_id = b.vec_id
          |  WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.35
          |  GROUP BY b.vec_id),
          |st AS (SELECT asg.list_id, count(*)::BIGINT AS n_vectors,
          |  sum(CASE WHEN pr.vec_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_pruned
          |  FROM asg LEFT JOIN pr ON asg.vec_id = pr.vec_id GROUP BY 1)
          |SELECT CAST(list_id AS INTEGER) AS list_id, n_vectors, n_pruned,
          |  CAST((2 * n_pruned * 10000 + n_vectors) // (2 * n_vectors) AS BIGINT) AS prune_bp
          |FROM st ORDER BY list_id""".stripMargin),
    // the persisted-assignment twin reads what the index stores —
    // assignment under the same corpus-sized head codebook — so the
    // prune-rule replay is shared verbatim
    "semdedup_indexed" -> (headAssignCte + semdedupPruneBody),
    // incremental admission: codebook from the RESIDUE (what the
    // persisted index trained on), every row assigned under it, a
    // batch row refused when any corpus row shares its list within tau
    "semdedup_incremental" ->
      (headAssignCteFor("WHERE vec_id % 13 <> 0") +
        """pr AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS near_id,
          |  max(round(list_cosine_similarity(ea.v, eb.v), 4)) AS max_cos
          |  FROM asg b JOIN asg a ON a.list_id = b.list_id
          |    AND b.vec_id % 13 = 0 AND a.vec_id % 13 <> 0
          |  JOIN ev ea ON ea.vec_id = a.vec_id JOIN ev eb ON eb.vec_id = b.vec_id
          |  WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.35
          |  GROUP BY b.vec_id)
          |SELECT asg.vec_id, CAST(asg.list_id AS INTEGER) AS list_id,
          |  pr.near_id IS NULL AS admitted,
          |  coalesce(pr.near_id, -1) AS near_id,
          |  coalesce(pr.max_cos, 0.0) + 0.0 AS max_cos
          |FROM asg LEFT JOIN pr ON asg.vec_id = pr.vec_id
          |WHERE asg.vec_id % 13 = 0 ORDER BY asg.vec_id""".stripMargin),
    // admission-gated ingest: residue rows plus exactly the batch rows
    // with no same-list residue neighbor within tau, counted per list
    "semantic_admission_ingest" ->
      (headAssignCteFor("WHERE vec_id % 13 <> 0") +
        """pr AS (SELECT b.vec_id AS vec_id
          |  FROM asg b JOIN asg a ON a.list_id = b.list_id
          |    AND b.vec_id % 13 = 0 AND a.vec_id % 13 <> 0
          |  JOIN ev ea ON ea.vec_id = a.vec_id JOIN ev eb ON eb.vec_id = b.vec_id
          |  WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.35
          |  GROUP BY b.vec_id),
          |live AS (SELECT vec_id, list_id FROM asg WHERE vec_id % 13 <> 0
          |  UNION ALL
          |  SELECT asg.vec_id, asg.list_id FROM asg LEFT JOIN pr ON asg.vec_id = pr.vec_id
          |  WHERE asg.vec_id % 13 = 0 AND pr.vec_id IS NULL)
          |SELECT CAST(list_id AS INTEGER) AS list_id, count(*)::BIGINT AS n_vectors
          |FROM live GROUP BY 1 ORDER BY 1""".stripMargin),
    // semantic components: the same within-list threshold edges, then
    // the clusterOracle recursive-reach min-label convention
    "semantic_clusters" -> (semanticClusterCtes + semanticClustersBody),
    // the FACTORED components twin: same reach/label body over the
    // two-level within-list edge set
    "semantic_clusters_twolevel" ->
      (twoLevelClusterCtes + semanticClustersBody),
    // persisted-components twins share the direct forms' replays
    "semantic_stats_indexed" ->
      (semanticClusterCtes +
        """, cl AS (SELECT d.vec_id,
          |  coalesce(least(l.mr, d.vec_id), d.vec_id) AS cluster_id
          |  FROM embeddings d LEFT JOIN lbl l ON d.vec_id = l.vec_id),
          |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
          |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
          |  (cluster_size * count(*))::BIGINT AS n_docs
          |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin),
    "semantic_weights_indexed" ->
      (semanticClusterCtes + semanticWeightsBody),
    "semantic_weights" -> (semanticClusterCtes + semanticWeightsBody),
    // the FACTORED weights twin (shared integer weight identity)
    "semantic_weights_twolevel" ->
      (twoLevelClusterCtes + semanticWeightsBody),
    // upsert gate: components over ALL rows (residue ∪ batch) assigned
    // under the RESIDUE codebook — exactly what the residue-built index
    // plus the in-place batch merge must equal
    "semantic_upsert_stats" -> semanticUpsertStatsOracle,
    // the stream-merged semantic components must equal the same rebuild
    "semantic_upsert_stream_ingested" -> semanticUpsertStatsOracle,
    // compaction must not change the live rows — same rebuild oracle
    "semantic_upsert_compacted" -> semanticUpsertStatsOracle,
    // weights off the upserted index: the same union components under
    // the residue codebook, with the shared integer weight identity
    "semantic_upsert_weights" ->
      (semanticClusterCtesFor("WHERE vec_id % 13 <> 0") +
        """, cl AS (SELECT d.vec_id,
          |  coalesce(least(l.mr, d.vec_id), d.vec_id) AS cluster_id
          |  FROM embeddings d LEFT JOIN lbl l ON d.vec_id = l.vec_id),
          |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
          |SELECT cl.vec_id, cl.cluster_id, sz.cluster_size,
          |  CAST(1000000 // sz.cluster_size AS DOUBLE) / 1000000.0 AS weight
          |FROM cl JOIN sz USING (cluster_id) ORDER BY cl.vec_id""".stripMargin),
    "semantic_cluster_stats" ->
      (semanticClusterCtes +
        """, cl AS (SELECT d.vec_id,
          |  coalesce(least(l.mr, d.vec_id), d.vec_id) AS cluster_id
          |  FROM embeddings d LEFT JOIN lbl l ON d.vec_id = l.vec_id),
          |sz AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
          |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
          |  (cluster_size * count(*))::BIGINT AS n_docs
          |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin),
    // the persisted-assignment knn twin shares the same replay
    "knn_graph_indexed" -> (headAssignCte + knnGraphBody),
    "knn_graph" -> (headAssignCte + knnGraphBody),
    // the FACTORED graph twin: same window body over the two-level
    // block pairs
    "knn_graph_twolevel" -> (twoLevelAssignCteFor("") + knnGraphBody),
    // compacted-index probe: exact pairs among the SURVIVING docs —
    // probe-after-compact ≡ probe-before minus the takedown slice
    // the advisor reports replay as pure counts over the base tables:
    // the cluster index holds ONE row per document, the IVF assignment
    // one per vector, and the gates' takedown slice is id % 97 = 3 —
    // so rows/tombstoned/live/bp (the HALF_UP integer identity) are
    // engine-exact; no staged/lease leftovers exist at report time and
    // the tombstone pressure sits above the 1% default, so the
    // recommendation branch is exercised ("compact"), not vacuous
    "index_maintenance_report" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n_rows FROM documents),
        |t AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_tomb
        |      FROM documents WHERE doc_id % 97 = 3)
        |SELECT n.n_rows AS n_rows, t.n_tomb AS n_tombstoned,
        |  n.n_rows - t.n_tomb AS n_live,
        |  (2 * t.n_tomb * 10000 + n.n_rows) // (2 * n.n_rows) AS tombstone_bp,
        |  CAST(0 AS BIGINT) AS n_applied_batches,
        |  FALSE AS staged_leftover, FALSE AS lease_held,
        |  CASE WHEN (2 * t.n_tomb * 10000 + n.n_rows) // (2 * n.n_rows) >= 100
        |       THEN 'compact' ELSE 'ok' END AS recommendation
        |FROM n, t""".stripMargin,
    "ivf_maintenance_report" ->
      """WITH n AS (SELECT count(*)::BIGINT AS n_rows FROM embeddings),
        |t AS (SELECT count(DISTINCT vec_id)::BIGINT AS n_tomb
        |      FROM embeddings WHERE vec_id % 97 = 3)
        |SELECT n.n_rows AS n_rows, t.n_tomb AS n_tombstoned,
        |  n.n_rows - t.n_tomb AS n_live,
        |  (2 * t.n_tomb * 10000 + n.n_rows) // (2 * n.n_rows) AS tombstone_bp,
        |  CAST(0 AS BIGINT) AS n_applied_batches,
        |  FALSE AS staged_leftover, FALSE AS lease_held,
        |  CASE WHEN (2 * t.n_tomb * 10000 + n.n_rows) // (2 * n.n_rows) >= 100
        |       THEN 'compact' ELSE 'ok' END AS recommendation
        |FROM n, t""".stripMargin,
    "dedup_lsh_compacted" -> jaccardPairsOracle(
      word = false, k = 5, threshold = 0.5,
      rel = "(SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 3)"),
    // int8 search oracle: re-quantize in SQL (same round-away-from-
    // zero as quantize_i8), then integer dot/norms — every partial is
    // an exact integer well under 2^53, so double accumulation is
    // order-independent and the final sqrt/divide/round is
    // bit-identical to the compiled Spark expression
    "ann_int8_topk" ->
      """WITH s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
        |q8 AS (SELECT vec_id, list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0 ELSE round(x / scale) END) AS q FROM s),
        |qq AS (SELECT q AS qv FROM q8 WHERE vec_id = 0),
        |el AS (SELECT e.vec_id, e.q[r.i + 1] AS x, qq.qv[r.i + 1] AS y
        |  FROM q8 e, qq, range(64) r(i) WHERE r.i < len(e.q) AND e.vec_id <> 0),
        |sc AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS na, sum(y * y) AS nb
        |  FROM el GROUP BY vec_id)
        |SELECT vec_id,
        |CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE round(dot / (sqrt(na) * sqrt(nb)), 4) END + 0.0 AS cos_sim
        |FROM sc ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin,
    // recall@k: the exact batch top-k and the re-quantized int8 batch
    // top-k (both 4dp-round + vec_id tie-break), hit-joined per query;
    // zero-recall queries survive via the LEFT join
    "ann_recall_report" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 500),
        |ex AS (SELECT query_id, vec_id FROM (
        |  SELECT q.query_id, e.vec_id, row_number() OVER (PARTITION BY q.query_id
        |    ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) DESC, e.vec_id) AS rn
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id) WHERE rn <= 10),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
        |q8 AS (SELECT vec_id, list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0 ELSE round(x / scale) END) AS q FROM s),
        |qq AS (SELECT vec_id AS query_id, q AS qv8 FROM q8 WHERE vec_id % 50 = 0 AND vec_id < 500),
        |el AS (SELECT qq.query_id, e.vec_id, e.q[r.i + 1] AS x, qq.qv8[r.i + 1] AS y
        |  FROM q8 e, qq, range(64) r(i) WHERE r.i < len(e.q) AND e.vec_id <> qq.query_id),
        |sc AS (SELECT query_id, vec_id, sum(x * y) AS dot, sum(x * x) AS na, sum(y * y) AS nb
        |  FROM el GROUP BY 1, 2),
        |ap AS (SELECT query_id, vec_id FROM (
        |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |    ORDER BY (CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE round(dot / (sqrt(na) * sqrt(nb)), 4) END) DESC, vec_id) AS rn
        |  FROM sc) WHERE rn <= 10),
        |h AS (SELECT ex.query_id, count(*) AS n_hits FROM ex JOIN ap USING (query_id, vec_id) GROUP BY 1)
        |SELECT q.query_id, CAST(10 AS BIGINT) AS k,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST((2 * coalesce(h.n_hits, 0) * 10000 + 10) // 20 AS BIGINT) AS recall_bp
        |FROM q LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin,
    // drift-report oracle: replay the WHOLE aged-index probe — the
    // seed codebook (16 smallest residue vec_ids), every row's list
    // assignment (sequential-fold L2 argmin via list_reduce — the
    // IEEE chain NearestCentroidExpr runs — ties to the lowest list),
    // the per-query nProbe=4 list selection (same fold, same ties),
    // the probed-lists top-10 vs brute-force top-10 (both 4dp-round +
    // vec_id tie-break), and the HALF_UP recall identity
    "ann_drift_report" ->
      """WITH cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id,
        |    CAST(embedding AS DOUBLE[]) AS cent
        |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 13 <> 0 ORDER BY vec_id LIMIT 16)),
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ad AS (SELECT ev.vec_id, cb.list_id,
        |  list_reduce(list_prepend(0.0, list_transform(generate_series(1, least(len(ev.v), len(cb.cent))),
        |    i -> (ev.v[i] - cb.cent[i]) * (ev.v[i] - cb.cent[i]))), (a, b) -> a + b) AS d2
        |  FROM ev CROSS JOIN cb),
        |asg AS (SELECT vec_id, list_id FROM (
        |  SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rn
        |  FROM ad) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM ev WHERE vec_id % 50 = 0 AND vec_id < 500),
        |qd AS (SELECT q.query_id, cb.list_id,
        |  list_reduce(list_prepend(0.0, list_transform(generate_series(1, least(len(q.qv), len(cb.cent))),
        |    i -> (q.qv[i] - cb.cent[i]) * (q.qv[i] - cb.cent[i]))), (a, b) -> a + b) AS d2
        |  FROM q CROSS JOIN cb),
        |pr AS (SELECT query_id, list_id FROM (
        |  SELECT query_id, list_id, row_number() OVER (PARTITION BY query_id ORDER BY d2, list_id) AS rn
        |  FROM qd) WHERE rn <= 4),
        |ap AS (SELECT query_id, vec_id FROM (
        |  SELECT pr.query_id, ev.vec_id, row_number() OVER (PARTITION BY pr.query_id
        |    ORDER BY round(list_cosine_similarity(ev.v, q.qv), 4) DESC, ev.vec_id) AS rn
        |  FROM ev JOIN asg USING (vec_id) JOIN pr ON asg.list_id = pr.list_id
        |  JOIN q ON pr.query_id = q.query_id WHERE ev.vec_id <> pr.query_id) WHERE rn <= 10),
        |ex AS (SELECT query_id, vec_id FROM (
        |  SELECT q.query_id, ev.vec_id, row_number() OVER (PARTITION BY q.query_id
        |    ORDER BY round(list_cosine_similarity(ev.v, q.qv), 4) DESC, ev.vec_id) AS rn
        |  FROM ev CROSS JOIN q WHERE ev.vec_id <> q.query_id) WHERE rn <= 10),
        |h AS (SELECT ex.query_id, count(*) AS n_hits FROM ex JOIN ap USING (query_id, vec_id) GROUP BY 1)
        |SELECT q.query_id, CAST(10 AS BIGINT) AS k,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST((2 * coalesce(h.n_hits, 0) * 10000 + 10) // 20 AS BIGINT) AS recall_bp
        |FROM q LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin,
    // lang_segments oracle: re-derive the windows (16 tokens), the
    // per-window stopword argmax (same tie order as lang_id), and the
    // run-length merge (gaps-and-islands over the window sequence).
    // range(512) caps documents at 8192 tokens — far above the
    // testdata maximum; the Spark side has no such cap.
    "lang_segments" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE len(trim(text)) > 0),
        |w AS (SELECT doc_id, r.i AS win, list_slice(toks, r.i*16 + 1, r.i*16 + 16) AS wt
        |  FROM t, range(512) r(i) WHERE r.i * 16 < len(toks)),
        |h AS (SELECT doc_id, win, len(wt) AS ntok,
        |  len(list_filter(wt, x -> x IN ('the','a','of','and','to','in','is'))) AS en,
        |  len(list_filter(wt, x -> x IN ('el','la','de','en','es','los','que'))) AS es,
        |  len(list_filter(wt, x -> x IN ('der','die','das','und','ist','ein','zu'))) AS de
        |  FROM w),
        |l AS (SELECT doc_id, win, ntok,
        |  CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
        |       WHEN es >= de AND es > 0 THEN 'es'
        |       WHEN de > 0 THEN 'de' ELSE 'unknown' END AS lang FROM h),
        |g AS (SELECT doc_id, win, ntok, lang,
        |  CASE WHEN lang = lag(lang) OVER (PARTITION BY doc_id ORDER BY win) THEN 0 ELSE 1 END AS brk
        |  FROM l),
        |seg AS (SELECT doc_id, win, ntok, lang,
        |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY win) - 1 AS seg_idx FROM g)
        |SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx, lang, CAST(SUM(ntok) AS BIGINT) AS n_tokens
        |FROM seg GROUP BY doc_id, seg_idx, lang ORDER BY doc_id, seg_idx""".stripMargin,
    "lang_id" ->
      """SELECT doc_id,
        |CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS en_hits,
        |CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w IN ('el','la','de','en','es','los','que'))) AS BIGINT) AS es_hits,
        |CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w IN ('der','die','das','und','ist','ein','zu'))) AS BIGINT) AS de_hits,
        |CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
        |WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
        |WHEN de_hits > 0 THEN 'de' ELSE 'unknown' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same per-language stopword argmax as the lang_id oracle, joined
    // to the label column and normalized per true-lang row
    "lang_confusion" ->
      """WITH p AS (SELECT doc_id, lang,
        |CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS en_hits,
        |CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w IN ('el','la','de','en','es','los','que'))) AS BIGINT) AS es_hits,
        |CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w IN ('der','die','das','und','ist','ein','zu'))) AS BIGINT) AS de_hits
        |FROM documents),
        |c AS (SELECT lang,
        |CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
        |WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
        |WHEN de_hits > 0 THEN 'de' ELSE 'unknown' END AS lang_pred FROM p),
        |g AS (SELECT lang, lang_pred, count(*) AS n FROM c GROUP BY 1, 2)
        |SELECT lang, lang_pred, n,
        |CAST((10000 * n) // (sum(n) OVER (PARTITION BY lang)) AS BIGINT) AS row_bp
        |FROM g ORDER BY lang, lang_pred""".stripMargin,
    "quality_score" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS word_count,
        |CAST((CASE WHEN length(text) > 0 THEN (2 * len(regexp_extract_all(text, '[.!?,;:]')) * 10000 + length(text)) // (2 * length(text)) ELSE 0 END) AS DOUBLE) / 10000.0 AS punct_ratio,
        |CAST((2 * len(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w IN ('the','a','of','and','to','in','is'))) * 10000 + len(string_split_regex(trim(text), '\s+'))) // (2 * len(string_split_regex(trim(text), '\s+'))) AS DOUBLE) / 10000.0 AS stopword_ratio,
        |CAST((2 * (length(text) - len(string_split_regex(trim(text), '\s+')) + 1) * 10000 + len(string_split_regex(trim(text), '\s+'))) // (2 * len(string_split_regex(trim(text), '\s+'))) AS DOUBLE) / 10000.0 AS avg_word_len,
        |CAST(((2 * least(len(string_split_regex(trim(text), '\s+')), 100) * (10000 - (CASE WHEN length(text) > 0 THEN (2 * len(regexp_extract_all(text, '[.!?,;:]')) * 10000 + length(text)) // (2 * length(text)) ELSE 0 END)) + 100) // 200) AS DOUBLE) / 10000.0 AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // vocab = top-25 by (tf desc, word) — same deterministic ranking
    // as vocab_topk; oov_bp is integer basis points
    "oov_rate" ->
      """WITH t AS (SELECT lang, unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word FROM documents),
        |tok AS (SELECT lang, word FROM t WHERE word <> ''),
        |v AS (SELECT word FROM (SELECT word, count(*) AS tf FROM tok GROUP BY 1)
        |      ORDER BY tf DESC, word LIMIT 25)
        |SELECT lang, count(*)::BIGINT AS n_tokens,
        |count(*) FILTER (word NOT IN (SELECT word FROM v))::BIGINT AS n_oov,
        |(10000 * count(*) FILTER (word NOT IN (SELECT word FROM v))) // count(*) AS oov_bp
        |FROM tok GROUP BY lang ORDER BY lang""".stripMargin,
    "text_clean" ->
      """SELECT doc_id,
        |trim(regexp_replace(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'), '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'), '\s+', ' ', 'g')) AS clean_text,
        |CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'), '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS clean_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same 4dp integer HALF_UP identity as the rollup averages — word
    // counts are routinely powers of two, which lands the ratios on
    // exact 5th-decimal halves where double rounding splits by engine
    "quality_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, len(ws)::BIGINT AS n_words, len(list_distinct(ws))::BIGINT AS n_distinct_words,
        |list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1]) AS gs FROM w),
        |g AS (SELECT doc_id, unnest(gs) AS gram FROM s),
        |c AS (SELECT doc_id, max(cnt)::BIGINT AS top_bigram_count FROM (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2) GROUP BY 1)
        |SELECT s.doc_id, s.n_words, s.n_distinct_words, coalesce(c.top_bigram_count, 0) AS top_bigram_count,
        |CAST(((s.n_words - s.n_distinct_words) * 20000 + s.n_words) // (2 * s.n_words) AS DOUBLE) / 10000 AS dup_word_frac,
        |CASE WHEN s.n_words > 1 THEN CAST((coalesce(c.top_bigram_count, 0) * 20000 + (s.n_words - 1)) // (2 * (s.n_words - 1)) AS DOUBLE) / 10000 ELSE 0.0 END AS top_bigram_frac
        |FROM s LEFT JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin,
    // the profile string is constructed identically on both engines
    // (the synthetic customer table has no PII-bearing columns); the
    // operator under test is the redaction itself
    "pii_scrub" ->
      """WITH p AS (SELECT c_custkey,
        |concat_ws(' ', c_name,
        |printf('%02d-%03d-%03d-%04d', c_custkey % 90 + 10, (c_custkey * 7) % 1000, (c_custkey * 13) % 1000, (c_custkey * 31) % 10000),
        |CASE WHEN c_custkey % 3 = 0 THEN 'user' || c_custkey || '@example.com' ELSE '' END,
        |c_mktsegment) AS profile FROM customer)
        |SELECT c_custkey,
        |len(regexp_extract_all(profile, '\b\d{2}-\d{3}-\d{3}-\d{4}\b'))::BIGINT AS n_phones,
        |len(regexp_extract_all(profile, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |regexp_replace(regexp_replace(profile, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\b\d{2}-\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS redacted
        |FROM p ORDER BY c_custkey""".stripMargin,
    "corpus_report" ->
      """WITH t AS (SELECT lang, len(string_split_regex(trim(text), '\s+'))::BIGINT AS wc, length(text)::BIGINT AS nc FROM documents)
        |SELECT lang, count(*)::BIGINT AS n_docs, CAST(sum(wc) AS BIGINT) AS total_words, CAST(sum(nc) AS BIGINT) AS total_chars,
        |CAST((sum(wc) * 20000 + count(*)) // (2 * count(*)) AS DOUBLE)/10000 AS avg_words
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "vocab_topk" ->
      """WITH g AS (SELECT doc_id, unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word FROM documents)
        |SELECT word, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS df
        |FROM g GROUP BY 1 ORDER BY tf DESC, word LIMIT 50""".stripMargin,
    "vocab_bigrams" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-1), i -> array_to_string(ws[i:i+1], ' '))) AS gram FROM w WHERE len(ws) >= 2)
        |SELECT gram, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS df
        |FROM g GROUP BY 1 ORDER BY tf DESC, gram LIMIT 30""".stripMargin,
    "bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word FROM documents),
        |f AS (SELECT word, count(*)::BIGINT AS freq FROM w WHERE word <> '' GROUP BY 1),
        |p AS (SELECT substr(word, i, 1) AS left_sym, substr(word, i + 1, 1) AS right_sym, freq
        |      FROM f, unnest(generate_series(1, len(word) - 1)) AS t(i) WHERE len(word) >= 2)
        |SELECT left_sym, right_sym, sum(freq)::BIGINT AS pair_count
        |FROM p GROUP BY 1, 2 ORDER BY pair_count DESC, left_sym, right_sym LIMIT 40""".stripMargin,
    "bpe_encode" -> bpeOracleSql,
    // same nested-replace replay as bpe_encode, aggregated to the
    // (lang, source) fertility ratio via the integer HALF_UP identity
    "fertility_report" ->
      s"""WITH nt AS (SELECT lang, source, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM documents),
         |w AS (SELECT lang, source, len(string_split(t, ' '))::BIGINT AS ws,
         |regexp_replace(t, '([^ ])', chr(31)||'\\1'||chr(31), 'g') AS r FROM nt),
         |m AS (SELECT lang, source, ws, ${bpeReplaceChain("r")} AS r2 FROM w),
         |tok AS (SELECT lang, source, ws, ((len(r2) - len(replace(r2, chr(31), ''))) // 2)::BIGINT AS bpe FROM m),
         |a AS (SELECT lang, source, count(*)::BIGINT AS n_docs, sum(ws)::BIGINT AS total_words, sum(bpe)::BIGINT AS total_tokens FROM tok GROUP BY 1, 2)
         |SELECT lang, source, n_docs, total_words, total_tokens,
         |((total_tokens * 20000 + total_words) // (total_words * 2)) / 10000.0 AS fertility
         |FROM a ORDER BY lang, source""".stripMargin,
    "length_histogram" ->
      """WITH t AS (SELECT lang, len(string_split_regex(trim(text), '\s+'))::BIGINT AS toks FROM documents),
        |b AS (SELECT lang, least(toks // 16, 8) AS bucket, toks FROM t)
        |SELECT lang, bucket, bucket * 16 AS bucket_lo, count(*)::BIGINT AS n_docs, sum(toks)::BIGINT AS total_tokens
        |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    "rollup_margins" ->
      """SELECT o_custkey AS entity_id, strftime(o_orderdate, '%Y') AS year,
        |CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
        |count(*)::BIGINT AS cnt,
        |CAST(GROUPING(o_custkey, strftime(o_orderdate, '%Y')) AS BIGINT) AS lvl
        |FROM orders
        |GROUP BY ROLLUP (o_custkey, strftime(o_orderdate, '%Y'))
        |ORDER BY lvl, entity_id, year""".stripMargin,
    "cube_margins" ->
      """SELECT o_orderpriority AS priority, strftime(o_orderdate, '%Y') AS year,
        |CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
        |count(*)::BIGINT AS cnt,
        |CAST(GROUPING(o_orderpriority, strftime(o_orderdate, '%Y')) AS BIGINT) AS lvl
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, strftime(o_orderdate, '%Y'))
        |ORDER BY lvl, priority, year""".stripMargin,
    "series_fill_forward" ->
      """WITH m AS (SELECT o_custkey AS entity_id, date_trunc('month', o_orderdate) AS mo, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v FROM orders GROUP BY 1, 2),
        |s AS (SELECT entity_id, min(mo) AS mn, max(mo) AS mx FROM m GROUP BY 1),
        |cal AS (SELECT entity_id, unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS mo FROM s),
        |j AS (SELECT cal.entity_id, cal.mo, m.v FROM cal LEFT JOIN m ON m.entity_id = cal.entity_id AND m.mo = cal.mo)
        |SELECT entity_id, strftime(mo, '%Y-%m') AS month,
        |round(CAST(last_value(v IGNORE NULLS) OVER (PARTITION BY entity_id ORDER BY mo ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS sum_value,
        |(v IS NULL) AS filled
        |FROM j ORDER BY entity_id, month""".stripMargin,
    // the flag filter applies to the ROUNDED z on both engines — a
    // raw-z filter would let the two engines disagree on rows whose
    // unrounded z sits within a rounding ulp of the threshold
    "zscore_outliers" ->
      """WITH b AS (SELECT o_orderkey, o_custkey AS entity_id, o_totalprice,
        |count(*) OVER (PARTITION BY o_custkey) AS n,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey) AS DOUBLE) AS sum_d,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey) AS DOUBLE) AS sumsq_d
        |FROM orders),
        |c AS (SELECT *, sqrt(greatest((sumsq_d - sum_d*sum_d/n)/(n-1), 0)) AS std FROM b WHERE n >= 5),
        |z AS (SELECT o_orderkey, entity_id, round(o_totalprice, 2) AS total,
        |round((o_totalprice - sum_d/n)/std, 4) AS z FROM c WHERE std > 0)
        |SELECT * FROM z WHERE abs(z) > 2 ORDER BY o_orderkey""".stripMargin,
    "gopher_rules" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws,
        |  lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt FROM documents),
        |s AS (SELECT doc_id, len(ws)::BIGINT AS n_words, len(list_distinct(ws))::BIGINT AS n_distinct,
        |  length(nt)::BIGINT AS nt_len,
        |  length(regexp_replace(nt, '[a-z0-9 ]', '', 'g'))::BIGINT AS n_symbols FROM w),
        |r AS (SELECT doc_id, n_words,
        |  ((nt_len - (n_words - 1)) * 100) // n_words AS awl_c,
        |  ((n_words - n_distinct) * 10000) // n_words AS dup_bp,
        |  (n_symbols * 10000) // nt_len AS symbol_bp
        |  FROM s WHERE n_words > 0)
        |SELECT doc_id, n_words, awl_c, dup_bp, symbol_bp,
        |  n_words >= 30 AND n_words <= 100000 AS rule_word_count,
        |  awl_c >= 300 AND awl_c <= 1000 AS rule_mean_word_len,
        |  dup_bp <= 6000 AS rule_dup_word,
        |  symbol_bp <= 1000 AS rule_symbol,
        |  (n_words >= 30 AND n_words <= 100000 AND awl_c >= 300 AND awl_c <= 1000
        |    AND dup_bp <= 6000 AND symbol_bp <= 1000) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    // log terms rounded to 6dp, summed as DECIMAL (order-independent),
    // ONE double expression at the end — see Corpus.docEntropy
    "doc_entropy" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |c AS (SELECT doc_id, word, count(*)::BIGINT AS cnt FROM t WHERE word <> '' GROUP BY 1, 2),
        |a AS (SELECT doc_id, sum(cnt)::BIGINT AS n_tokens,
        |  sum(CAST(round(cnt * log2(cnt), 6) AS DECIMAL(28,6))) AS s_clog FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens,
        |  round(log2(n_tokens) - CAST(s_clog AS DOUBLE) / n_tokens, 4) + 0.0 AS entropy
        |FROM a ORDER BY doc_id""".stripMargin,
    "doc_logprob" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |c AS (SELECT doc_id, word, count(*)::BIGINT AS cnt FROM t WHERE word <> '' GROUP BY 1, 2),
        |v AS (SELECT word, sum(cnt)::BIGINT AS tf FROM c GROUP BY 1),
        |tot AS (SELECT sum(tf)::BIGINT AS total FROM v),
        |s AS (SELECT word, CAST(round(ln(CAST(tf AS DOUBLE) / total), 6) AS DECIMAL(18,6)) AS lp FROM v, tot),
        |d AS (SELECT c.doc_id, sum(c.cnt)::BIGINT AS n_tokens, sum(c.cnt * s.lp) AS s_lp
        |  FROM c JOIN s USING (word) GROUP BY 1)
        |SELECT doc_id, n_tokens, round(CAST(s_lp AS DOUBLE) / n_tokens, 4) + 0.0 AS avg_logprob
        |FROM d ORDER BY doc_id""".stripMargin,
    // held-out LM scoring: add-one-smoothed train-half unigram LM,
    // OOV floor 1/(N+V+1); 6dp-ln terms, exact decimal sums
    "doc_logprob_heldout" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |tw AS (SELECT word FROM t WHERE word <> '' AND doc_id % 2 = 0),
        |v AS (SELECT word, count(*)::BIGINT AS tf FROM tw GROUP BY 1),
        |st AS (SELECT count(*)::BIGINT AS v, sum(tf)::BIGINT AS n FROM v),
        |s AS (SELECT word, CAST(round(ln(CAST(tf + 1 AS DOUBLE) / CAST(n + v + 1 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp FROM v, st),
        |c AS (SELECT doc_id, word, count(*)::BIGINT AS cnt FROM t
        |  WHERE word <> '' AND doc_id % 2 <> 0 GROUP BY 1, 2),
        |j AS (SELECT c.doc_id, c.cnt,
        |  coalesce(s.lp, CAST(round(ln(1.0 / CAST(st.n + st.v + 1 AS DOUBLE)), 6) AS DECIMAL(18,6))) AS lp
        |  FROM c LEFT JOIN s USING (word), st),
        |d AS (SELECT doc_id, sum(cnt)::BIGINT AS n_tokens, sum(cnt * lp) AS s_lp
        |  FROM j GROUP BY 1)
        |SELECT doc_id, n_tokens, round(CAST(s_lp AS DOUBLE) / n_tokens, 4) + 0.0 AS avg_logprob
        |FROM d ORDER BY doc_id""".stripMargin,
    // per-source KL: exact decimal products inside the log argument,
    // 6dp-rounded terms, exact decimal sum, one final division
    "source_kl" ->
      """WITH w AS (SELECT source, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |t AS (SELECT source, unnest(ws) AS word FROM w),
        |ps AS (SELECT source, word, count(*)::BIGINT AS c FROM t WHERE word <> '' GROUP BY 1, 2),
        |v AS (SELECT word, sum(c)::BIGINT AS tf FROM ps GROUP BY 1),
        |tot AS (SELECT source, sum(c)::BIGINT AS n_s FROM ps GROUP BY 1),
        |bn AS (SELECT sum(tf)::BIGINT AS big_n FROM v),
        |terms AS (SELECT ps.source, n_s,
        |  ps.c * CAST(round(ln(CAST(CAST(ps.c AS HUGEINT) * big_n AS DOUBLE) /
        |    CAST(CAST(n_s AS HUGEINT) * tf AS DOUBLE)), 6) AS DECIMAL(18,6)) AS term
        |  FROM ps JOIN v USING (word) JOIN tot USING (source), bn)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(term) AS DOUBLE) / max(n_s), 6) + 0.0 AS kl
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    // Zipf OLS over the bounded top-k vocab; intercept reuses the
    // ROUNDED slope exactly as the Spark side does
    "zipf_slope" ->
      """WITH w AS (SELECT string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |t AS (SELECT unnest(ws) AS word FROM w),
        |c AS (SELECT word, count(*)::BIGINT AS tf FROM t WHERE word <> '' GROUP BY 1),
        |top AS (SELECT word, tf FROM c ORDER BY tf DESC, word LIMIT 100),
        |r AS (SELECT
        |  CAST(round(ln(CAST(row_number() OVER (ORDER BY tf DESC, word) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |  CAST(round(ln(CAST(tf AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y FROM top),
        |m AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
        |  sum(CAST(x * x AS DECIMAL(38,12))) AS sxx FROM r)
        |SELECT n AS n_terms,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) + 0.0 AS slope,
        |  round((CAST(sy AS DOUBLE) -
        |    round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6)
        |    * CAST(sx AS DOUBLE)) / n, 6) + 0.0 AS intercept
        |FROM m""".stripMargin,
    // DSIR: one 6dp-rounded log term per word from exact smoothed-LM
    // integer products; per-doc exact decimal sum, one final division
    "dsir_logratio" ->
      s"""$dsirCteBody
        |SELECT doc_id, n_tokens, round(CAST(s_lr AS DOUBLE) / n_tokens, 4) + 0.0 AS log_ratio
        |FROM d ORDER BY doc_id""".stripMargin,
    // DSIR realized: keep_bp = min(10^4, round(exp(lr_4dp)*10^4)),
    // doc kept iff its id-keyed md5 bucket*100 < keep_bp (the
    // weighted-sample bucket convention; exp applied to the rounded
    // score and re-rounded to integer bp, the ln-policy's containment)
    "dsir_resample" -> {
      val hv = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
      }.mkString(" + ")
      s"""$dsirCteBody,
        |sr AS (SELECT doc_id, n_tokens,
        |  round(CAST(s_lr AS DOUBLE) / n_tokens, 4) + 0.0 AS log_ratio FROM d),
        |k AS (SELECT doc_id, n_tokens, log_ratio,
        |  least(10000, CAST(round(exp(log_ratio) * 10000) AS BIGINT)) AS keep_bp,
        |  md5(CAST(doc_id AS VARCHAR)) AS hx FROM sr)
        |SELECT doc_id, n_tokens, log_ratio, keep_bp,
        |  (CAST(($hv) % 100 AS BIGINT) * 100 < keep_bp) AS kept
        |FROM k ORDER BY doc_id""".stripMargin
    },
    // CCNet terciles: per-lang integer rank thirds over the same
    // unigram logprob score, boundary docs decided by (score, doc_id)
    "ccnet_buckets" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |c AS (SELECT doc_id, word, count(*)::BIGINT AS cnt FROM t WHERE word <> '' GROUP BY 1, 2),
        |v AS (SELECT word, sum(cnt)::BIGINT AS tf FROM c GROUP BY 1),
        |tot AS (SELECT sum(tf)::BIGINT AS total FROM v),
        |s AS (SELECT word, CAST(round(ln(CAST(tf AS DOUBLE) / total), 6) AS DECIMAL(18,6)) AS lp FROM v, tot),
        |d AS (SELECT c.doc_id, sum(c.cnt)::BIGINT AS n_tokens, sum(c.cnt * s.lp) AS s_lp
        |  FROM c JOIN s USING (word) GROUP BY 1),
        |sc AS (SELECT doc_id, round(CAST(s_lp AS DOUBLE) / n_tokens, 4) AS avg_logprob FROM d),
        |j AS (SELECT sc.doc_id, sc.avg_logprob, doc.lang
        |  FROM sc JOIN documents doc USING (doc_id)),
        |r AS (SELECT doc_id, lang, avg_logprob,
        |  row_number() OVER (PARTITION BY lang ORDER BY avg_logprob, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n FROM j)
        |SELECT doc_id, lang, avg_logprob + 0.0 AS avg_logprob,
        |  CASE ((rn - 1) * 3) // n WHEN 0 THEN 'tail' WHEN 1 THEN 'middle' ELSE 'head' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,
    "q13_order_dist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT OUTER JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty_d
        |  FROM lineitem GROUP BY l_orderkey HAVING total_qty_d > 250)
        |SELECT c_name, c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  round(o_totalprice, 2) AS total_price, CAST(total_qty_d AS DOUBLE) AS total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_price DESC, o_date, o_orderkey LIMIT 100""".stripMargin,
    "url_canonical_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 7 = 0 THEN 'http://' ELSE 'https://' END)
        |  || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
        |  || source || '.example.com/articles/'
        |  || (CASE WHEN right(source, 1) IN ('0','2','4','6','8') THEN 'market_news' ELSE 'stock_news' END)
        |  || '/item-' || CAST(doc_id % 500 AS VARCHAR)
        |  || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_campaign=daily' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(url),
        |    '^https?://', ''), '^www\.', ''), '\?.*$', ''), '/$', '') AS canonical_url
        |  FROM u)
        |SELECT canonical_url, min(doc_id) AS keep_doc_id, count(*) AS n_variants
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "event_dedup_window" ->
      """WITH d AS (SELECT user_id, event_type, epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |SELECT user_id, event_type, count(*) AS n_events,
        |  sum(CASE WHEN prev_us IS NOT NULL AND us - prev_us < 3600000000 THEN 1 ELSE 0 END)::BIGINT AS n_dups
        |FROM d GROUP BY 1, 2 HAVING n_dups > 0 ORDER BY 1, 2""".stripMargin,
    // integer cents × duration-micros, decimal sums, exact 4dp integer
    // identity — TWAP's ~1e17 numerators never touch a double
    "twap_daily" ->
      """WITH s AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS period_key, ts, event_id,
        |  CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM events),
        |d AS (SELECT user_id, period_key, cents,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id, period_key ORDER BY ts, event_id)) - epoch_us(ts) AS dur
        |  FROM s),
        |g AS (SELECT user_id, period_key,
        |  sum(CAST(cents * dur AS HUGEINT)) AS n_cd,
        |  100 * sum(dur) AS d_c, count(*) AS n_intervals
        |  FROM d WHERE dur IS NOT NULL GROUP BY 1, 2)
        |SELECT user_id, period_key, n_intervals,
        |  CAST((n_cd * 20000 + d_c) // (2 * d_c) AS DOUBLE) / 10000.0 AS twap
        |FROM g ORDER BY user_id, period_key""".stripMargin,
    // the parallel LTTB (bucket-mean anchors): integer cross-product
    // areas scaled by n_p²·n_n, argmax via a composite order string
    "series_downsample" ->
      """WITH b0 AS (SELECT user_id, event_id, ts,
        |  CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n,
        |  epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id) AS x
        |  FROM events),
        |bb AS (SELECT * FROM b0 WHERE n >= 3),
        |mids AS (SELECT *, 1 + ((rn - 2) * 8) // (n - 2) AS bucket FROM bb WHERE rn > 1 AND rn < n),
        |bs AS (SELECT user_id, bucket, sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
        |  count(*)::HUGEINT AS nb FROM mids GROUP BY 1, 2),
        |firstpt AS (SELECT user_id, 0 AS bucket, x::HUGEINT AS sx, y::HUGEINT AS sy,
        |  1::HUGEINT AS nb FROM bb WHERE rn = 1),
        |lastpt AS (SELECT user_id, 9 AS bucket, x::HUGEINT AS sx, y::HUGEINT AS sy,
        |  1::HUGEINT AS nb FROM bb WHERE rn = n),
        |pa AS (SELECT * FROM bs UNION ALL SELECT * FROM firstpt),
        |na AS (SELECT * FROM bs UNION ALL SELECT * FROM lastpt),
        |cand AS (SELECT m.user_id, m.bucket, m.event_id, m.y,
        |  abs((p.sx * q.nb - q.sx * p.nb) * (m.y * p.nb - p.sy)
        |    - (p.sx - m.x * p.nb) * (q.sy * p.nb - p.sy * q.nb)) AS a2
        |  FROM mids m
        |  JOIN pa p ON m.user_id = p.user_id AND p.bucket = m.bucket - 1
        |  JOIN na q ON m.user_id = q.user_id AND q.bucket = m.bucket + 1),
        |ch AS (SELECT user_id, bucket,
        |  max_by(event_id, lpad(CAST(a2 AS VARCHAR), 40, '0') || lpad(CAST(999999999999 - event_id AS VARCHAR), 12, '0')) AS event_id,
        |  max_by(y, lpad(CAST(a2 AS VARCHAR), 40, '0') || lpad(CAST(999999999999 - event_id AS VARCHAR), 12, '0')) AS y_sel
        |  FROM cand GROUP BY 1, 2),
        |ep AS (SELECT user_id, CASE WHEN rn = 1 THEN 0 ELSE 9 END AS bucket,
        |  event_id, y AS y_sel FROM bb WHERE rn = 1 OR rn = n)
        |SELECT user_id, bucket, event_id, CAST(y_sel AS DOUBLE) / 100.0 AS value
        |FROM (SELECT * FROM ch UNION ALL SELECT * FROM ep)
        |ORDER BY user_id, bucket""".stripMargin,
    // n·Σxy − Σx·Σy over integer cents in HUGEINT; the single final
    // division is the only float op
    "series_beta" ->
      """WITH daily AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  sum(CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |market AS (SELECT day, sum(x) AS y FROM daily GROUP BY 1),
        |j AS (SELECT user_id, x::HUGEINT AS x, y::HUGEINT AS y
        |  FROM daily JOIN market USING (day)),
        |a AS (SELECT user_id, count(*) AS n_days, sum(x) AS sx, sum(y) AS sy,
        |  sum(x * y) AS sxy, sum(y * y) AS syy FROM j GROUP BY 1)
        |SELECT user_id, n_days,
        |  round(CAST(n_days * sxy - sx * sy AS DOUBLE) / CAST(n_days * syy - sy * sy AS DOUBLE), 6) + 0.0 AS beta
        |FROM a WHERE n_days >= 2 AND (n_days * syy - sy * sy) <> 0
        |ORDER BY user_id""".stripMargin,
    "dow_seasonality" ->
      """WITH g AS (SELECT isodow(o_orderdate) AS iso_dow, count(*) AS n_orders,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_d
        |  FROM orders GROUP BY 1),
        |c AS (SELECT *, CAST(rev_d * 100 AS HUGEINT) AS cents FROM g)
        |SELECT iso_dow, n_orders, CAST(rev_d AS DOUBLE) AS revenue,
        |  CAST((cents * 200 + n_orders) // (n_orders * 2) AS DOUBLE) / 10000 AS avg_order
        |FROM c ORDER BY iso_dow""".stripMargin,
    "dq_sequence" ->
      """WITH a AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
        |  min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
        |  count(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT user_id, strftime(first_purchase, '%Y-%m-%d %H:%M:%S') AS first_purchase,
        |  CASE WHEN first_signup IS NULL THEN 'missing_signup'
        |       ELSE 'purchase_before_signup' END AS violation, n_events
        |FROM a WHERE first_purchase IS NOT NULL
        |  AND (first_signup IS NULL OR first_purchase < first_signup)
        |ORDER BY user_id""".stripMargin,
    "q14_promo_revenue" ->
      """WITH j AS (SELECT CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS rev, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'),
        |a AS (SELECT coalesce(sum(CASE WHEN p_type = 'PROMO' THEN rev END), 0) AS promo_d,
        |  sum(rev) AS total_d FROM j),
        |c AS (SELECT *, CAST(promo_d * 1000000 AS HUGEINT) AS n_c,
        |  CAST(total_d * 100 AS HUGEINT) AS d_c FROM a)
        |SELECT CAST(round(promo_d, 2) AS DOUBLE) AS promo_revenue,
        |  CAST(round(total_d, 2) AS DOUBLE) AS total_revenue,
        |  CAST((n_c * 2 + d_c) // (2 * d_c) AS DOUBLE) / 100.0 AS promo_pct
        |FROM c""".stripMargin,
    "q19_bracket_revenue" ->
      """SELECT p_brand,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "interarrival_burstiness" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |f AS (SELECT event_type, CAST(gap AS HUGEINT) AS gap FROM g
        |  WHERE gap IS NOT NULL AND gap > 0),
        |a AS (SELECT event_type, count(*) AS n, sum(gap) AS sd,
        |    sum(gap * gap) AS sd2
        |  FROM f GROUP BY 1)
        |SELECT event_type, n,
        |  CAST((sd * 2 + n * 1000000) // (2 * n * 1000000) AS BIGINT)
        |    AS mean_gap_secs,
        |  CAST((n * sd2 * 10000) // (sd * sd) - 10000 AS BIGINT)
        |    AS burstiness_bp
        |FROM a WHERE n >= 10 ORDER BY event_type""".stripMargin,
    "value_bands" ->
      """WITH b AS (SELECT event_type, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY cents, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM b)
        |SELECT event_type, CAST(p AS BIGINT) AS p,
        |  CAST(cents AS DOUBLE) / 100.0 AS value, n AS n_events
        |FROM r, (VALUES (25), (50), (75), (90)) v(p)
        |WHERE rn = (p * n + 99) // 100
        |ORDER BY event_type, p""".stripMargin,
    "source_lang_chi2" ->
      """WITH cells AS (SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
        |rws AS (SELECT source, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cls AS (SELECT lang, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n_total,
        |    count(DISTINCT source) AS n_sources,
        |    count(DISTINCT lang) AS n_langs FROM cells),
        |grid AS (SELECT rws.source, cls.lang, rws.r, cls.c,
        |    coalesce(cells.o, 0) AS o
        |  FROM rws CROSS JOIN cls
        |  LEFT JOIN cells ON rws.source = cells.source AND cls.lang = cells.lang),
        |k AS (SELECT (CAST(o AS HUGEINT) * n_total - CAST(r AS HUGEINT) * c) *
        |    (CAST(o AS HUGEINT) * n_total - CAST(r AS HUGEINT) * c) * 10000
        |    // (CAST(r AS HUGEINT) * c * n_total) AS contrib,
        |    n_sources, n_langs
        |  FROM grid, tot)
        |SELECT CAST((n_sources - 1) * (n_langs - 1) AS BIGINT) AS dof,
        |  CAST(sum(contrib) AS BIGINT) AS chi2_x10000
        |FROM k GROUP BY n_sources, n_langs""".stripMargin,
    "price_qty_slope" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_quantity AS HUGEINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS HUGEINT) AS y
        |  FROM lineitem),
        |a AS (SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM b GROUP BY 1),
        |m AS (SELECT l_returnflag, n,
        |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
        |    sx, sy FROM a),
        |sl AS (SELECT *, round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4)
        |    AS slope FROM m)
        |SELECT l_returnflag, n, slope + 0.0 AS slope,
        |  round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE), 2) + 0.0 AS intercept_cents
        |FROM sl ORDER BY l_returnflag""".stripMargin,
    "ses_forecast" ->
      """WITH m AS (SELECT r_name, strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS HUGEINT)
        |      AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |s AS (SELECT r_name, count(*) AS n_months,
        |    list(cents ORDER BY month) AS cs
        |  FROM m GROUP BY 1)
        |SELECT r_name, CAST(n_months AS INTEGER) AS n_months,
        |  CAST(cs[len(cs)] AS DOUBLE) / 100.0 AS last_actual,
        |  CAST(list_reduce(cs, (s, e) -> (e + s) // 2) AS DOUBLE) / 100.0
        |    AS forecast_next
        |FROM s ORDER BY r_name""".stripMargin,
    "qty_price_corr" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(l_quantity AS HUGEINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS HUGEINT) AS y
        |  FROM lineitem),
        |a AS (SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM b GROUP BY 1),
        |m AS (SELECT l_returnflag, n,
        |    n * sxy - sx * sy AS num,
        |    n * sxx - sx * sx AS denx,
        |    n * syy - sy * sy AS deny FROM a)
        |SELECT l_returnflag, n,
        |  round(CAST(num AS DOUBLE) /
        |    sqrt(CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)), 4) + 0.0 AS corr
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "discount_elasticity" ->
      """SELECT CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS INTEGER) AS discount_pct,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))), 2)
        |    AS DOUBLE) AS revenue,
        |  CAST((sum(CAST(l_quantity AS BIGINT)) * 100 * 2 + count(*))
        |    // (2 * count(*)) AS DOUBLE) / 100.0 AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "part_price_variance" ->
      """WITH b AS (SELECT l_partkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS HUGEINT) AS c
        |  FROM lineitem),
        |a AS (SELECT l_partkey, count(*) AS n, sum(c) AS s, sum(c * c) AS s2
        |  FROM b GROUP BY 1),
        |f AS (SELECT l_partkey, n, s,
        |    (n * s2 - s * s) // (n * (n - 1)) AS var_c2 FROM a WHERE n >= 2)
        |SELECT l_partkey, n, CAST(s AS DOUBLE) / 100.0 AS sum_price,
        |  CAST(var_c2 AS DOUBLE) AS var_cents2
        |FROM f ORDER BY var_c2 DESC, l_partkey LIMIT 50""".stripMargin,
    "open_order_aging" ->
      """WITH a AS (SELECT max(o_orderdate) AS as_of FROM orders),
        |o AS (SELECT date_diff('day', CAST(o_orderdate AS DATE), CAST(as_of AS DATE))
        |    AS age_days, o_totalprice
        |  FROM orders, a WHERE o_orderstatus = 'O')
        |SELECT age_days // 30 AS age_bucket_30d, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
        |    AS open_value,
        |  CAST(max(age_days) AS INTEGER) AS max_age_days
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,
    "dau_anomalies" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau,
        |    CAST(isodow(day) AS INTEGER) AS dow
        |  FROM ud GROUP BY day),
        |r AS (SELECT *, row_number() OVER (PARTITION BY dow ORDER BY dau, day) AS rn,
        |    count(*) OVER (PARTITION BY dow) AS n FROM dau),
        |med AS (SELECT dow, dau AS med_dau, n FROM r WHERE rn = (n + 1) // 2),
        |dv AS (SELECT dau.day, dau.dow, dau.dau, med.med_dau, med.n,
        |    abs(dau.dau - med.med_dau) AS dev
        |  FROM dau JOIN med USING (dow)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY dow ORDER BY dev, day) AS rn
        |  FROM dv),
        |mad AS (SELECT dow, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT strftime(dv.day, '%Y-%m-%d') AS day, dv.dow, dv.dau, dv.med_dau,
        |  dv.dev, mad.mad,
        |  (dv.n >= 4 AND mad.mad > 0 AND dv.dev > 3 * mad.mad) AS is_anomaly
        |FROM dv JOIN mad USING (dow) ORDER BY day""".stripMargin,
    "ab_test_report" -> {
      val hv = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"(strpos('0123456789abcdef', substring(hx, ${i + 1}, 1)) - 1) * $mult"
      }.mkString(" + ")
      s"""WITH pu AS (SELECT DISTINCT user_id, event_type FROM events
         |  WHERE event_type IN ('view', 'purchase')),
         |agg AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
         |  FROM pu GROUP BY 1),
         |h AS (SELECT *, md5(CAST(user_id AS VARCHAR)) AS hx FROM agg),
         |armed AS (SELECT *, CASE WHEN ($hv) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
         |  FROM h),
         |r AS (SELECT arm, count(*) AS n_users, sum(viewed)::BIGINT AS n_viewed,
         |    sum(CASE WHEN viewed = 1 AND purchased = 1 THEN 1 ELSE 0 END)::BIGINT
         |      AS n_converted
         |  FROM armed GROUP BY 1)
         |SELECT arm, n_users, n_viewed, n_converted,
         |  CAST((n_converted * 10000 * 2 + n_viewed) // (2 * n_viewed) AS BIGINT)
         |    AS conv_bp
         |FROM r ORDER BY arm""".stripMargin
    },
    "scd2_build" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev_type IS NULL OR prev_type <> event_type
        |    THEN 1 ELSE 0 END AS changed FROM o),
        |v AS (SELECT *, sum(changed) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS version FROM f),
        |runs AS (SELECT user_id, version, min(event_type) AS attr,
        |    min(ts) AS from_ts
        |  FROM v GROUP BY 1, 2),
        |b AS (SELECT *, lead(from_ts) OVER (PARTITION BY user_id
        |    ORDER BY version) AS to_ts FROM runs)
        |SELECT user_id, CAST(version AS BIGINT) AS version, attr,
        |  strftime(from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(to_ts, '%Y-%m-%d %H:%M:%S') AS valid_to
        |FROM b ORDER BY user_id, version""".stripMargin,
    "trending_terms" ->
      """WITH mid AS (SELECT max(doc_id) // 2 AS mid FROM documents),
        |t AS (SELECT doc_id >= mid AS is_new,
        |    unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
        |  FROM documents, mid),
        |c AS (SELECT word,
        |    sum(CASE WHEN is_new THEN 1 ELSE 0 END)::BIGINT AS tf_new,
        |    sum(CASE WHEN is_new THEN 0 ELSE 1 END)::BIGINT AS tf_old
        |  FROM t WHERE word <> '' GROUP BY 1)
        |SELECT word, tf_new, tf_old,
        |  CAST(((tf_new + 1) * 10000 * 2 + (tf_old + 1)) // (2 * (tf_old + 1))
        |    AS BIGINT) AS growth_bp
        |FROM c WHERE tf_new >= 5
        |ORDER BY growth_bp DESC, word LIMIT 25""".stripMargin,
    "cohort_ltv" ->
      """WITH anchors AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
        |a2 AS (SELECT user_id, year(first_ts) * 12 + month(first_ts) AS m0,
        |    strftime(first_ts, '%Y-%m') AS cohort_month FROM anchors),
        |sizes AS (SELECT cohort_month, count(*) AS n_users FROM a2 GROUP BY 1),
        |rev AS (SELECT cohort_month, (year(ts) * 12 + month(ts)) - m0 AS month_offset,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS HUGEINT) AS rev_cents
        |  FROM events e JOIN a2 USING (user_id)
        |  WHERE event_type = 'purchase'
        |  GROUP BY 1, 2),
        |c AS (SELECT *, sum(rev_cents) OVER (PARTITION BY cohort_month
        |    ORDER BY month_offset ROWS UNBOUNDED PRECEDING) AS cum_cents FROM rev)
        |SELECT cohort_month, CAST(month_offset AS BIGINT) AS month_offset, n_users,
        |  CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
        |  CAST(cum_cents AS DOUBLE) / 100.0 AS cum_revenue,
        |  CAST((cum_cents * 2 + n_users) // (2 * n_users) AS DOUBLE) / 100.0
        |    AS cum_ltv_per_user
        |FROM c JOIN sizes USING (cohort_month)
        |ORDER BY cohort_month, month_offset""".stripMargin,
    "label_outliers" ->
      """WITH q AS (SELECT label, vec_id, r.i AS pos,
        |    CAST(CASE WHEN scale = 0 THEN 0 ELSE round(v[r.i + 1] / scale) END AS BIGINT) AS q
        |  FROM (SELECT label, vec_id, v,
        |      list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |    FROM (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
        |    range(64) r(i) WHERE r.i < len(v)),
        |c AS (SELECT label, pos, sum(q)::BIGINT AS s, count(*)::BIGINT AS n
        |  FROM q GROUP BY 1, 2),
        |d AS (SELECT q.label, vec_id,
        |    sum(CAST(q.q * c.n - c.s AS HUGEINT) * CAST(q.q * c.n - c.s AS HUGEINT))
        |      AS dist2x
        |  FROM q JOIN c ON q.label = c.label AND q.pos = c.pos GROUP BY 1, 2),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY label
        |    ORDER BY dist2x DESC, vec_id) AS rn FROM d)
        |SELECT label, vec_id, CAST(dist2x AS DOUBLE) AS dist2x, rn
        |FROM r2 WHERE rn <= 5 ORDER BY label, rn""".stripMargin,
    "logprob_cutoffs" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |c AS (SELECT doc_id, word, count(*)::BIGINT AS cnt FROM t WHERE word <> '' GROUP BY 1, 2),
        |v AS (SELECT word, sum(cnt)::BIGINT AS tf FROM c GROUP BY 1),
        |tot AS (SELECT sum(tf)::BIGINT AS total FROM v),
        |s AS (SELECT word, CAST(round(ln(CAST(tf AS DOUBLE) / total), 6) AS DECIMAL(18,6)) AS lp FROM v, tot),
        |d AS (SELECT c.doc_id, sum(c.cnt)::BIGINT AS n_tokens, sum(c.cnt * s.lp) AS s_lp
        |  FROM c JOIN s USING (word) GROUP BY 1),
        |sc AS (SELECT d.doc_id, round(CAST(s_lp AS DOUBLE) / n_tokens, 4) AS avg_logprob, lang
        |  FROM d JOIN documents USING (doc_id)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY avg_logprob, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n FROM sc)
        |SELECT lang, CAST(p AS BIGINT) AS p, avg_logprob AS cutoff, n AS n_docs
        |FROM r, (VALUES (10), (25), (50)) v2(p)
        |WHERE rn = (p * n + 99) // 100
        |ORDER BY lang, p""".stripMargin,
    "fulfillment_latency" ->
      """WITH l AS (SELECT o_orderpriority,
        |    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
        |      AS lag_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |a AS (SELECT o_orderpriority, count(*) AS n_lines,
        |    sum(CAST(lag_days AS BIGINT)) AS sum_days,
        |    min(lag_days) AS min_days, max(lag_days) AS max_days
        |  FROM l GROUP BY 1)
        |SELECT o_orderpriority, n_lines,
        |  CAST((sum_days * 100 * 2 + n_lines) // (2 * n_lines) AS DOUBLE) / 100.0
        |    AS avg_days,
        |  CAST(min_days AS INTEGER) AS min_days,
        |  CAST(max_days AS INTEGER) AS max_days
        |FROM a ORDER BY o_orderpriority""".stripMargin,
    "vocab_coverage" ->
      """WITH t AS (SELECT unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word FROM documents),
        |c AS (SELECT word, count(*) AS tf FROM t WHERE word <> '' GROUP BY 1),
        |tot AS (SELECT sum(tf) AS total_tokens FROM c),
        |top AS (SELECT word, tf FROM c ORDER BY tf DESC, word LIMIT 50),
        |r AS (SELECT *, row_number() OVER (ORDER BY tf DESC, word) AS rank,
        |    sum(tf) OVER (ORDER BY tf DESC, word ROWS UNBOUNDED PRECEDING) AS cum_tf
        |  FROM top)
        |SELECT CAST(rank AS INTEGER) AS k, CAST(cum_tf AS BIGINT) AS covered_tokens,
        |  CAST(total_tokens AS BIGINT) AS total_tokens,
        |  CAST((cum_tf * 10000 * 2 + total_tokens) // (2 * total_tokens) AS BIGINT)
        |    AS coverage_bp
        |FROM r, tot WHERE rank IN (5, 10, 25, 50) ORDER BY k""".stripMargin,
    "q10_returned_items" ->
      """WITH r AS (SELECT o_custkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS rev_d,
        |    count(*) AS n_lines
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT c_custkey, c_name, n_name,
        |  CAST(round(rev_d, 2) AS DOUBLE) AS returned_revenue, n_lines,
        |  round(c_acctbal, 2) AS c_acctbal
        |FROM r JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY returned_revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "dn_retention" ->
      """WITH active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |anchors AS (SELECT user_id, min(day) AS anchor FROM active GROUP BY 1),
        |probes AS (SELECT a.user_id, anchor, x AS day_offset,
        |    anchor + CAST(x AS INTEGER) AS probe_day
        |  FROM anchors a, (VALUES (1), (7), (14), (28)) v(x)),
        |ret AS (SELECT day_offset, count(*) AS n_retained FROM probes p
        |  WHERE EXISTS (SELECT 1 FROM active ac
        |    WHERE ac.user_id = p.user_id AND ac.day = p.probe_day)
        |  GROUP BY 1),
        |coh AS (SELECT count(*) AS n_cohort FROM anchors)
        |SELECT CAST(day_offset AS INTEGER) AS day_offset, n_retained, n_cohort,
        |  CAST((n_retained * 10000 * 2 + n_cohort) // (2 * n_cohort) AS BIGINT)
        |    AS retention_bp
        |FROM ret, coh ORDER BY day_offset""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue_delta,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q9_profit_nation" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) -
        |    CAST(p_retailprice AS DECIMAL(12,2)) *
        |    CAST(l_quantity AS DECIMAL(3,0)) * CAST(0.5 AS DECIMAL(2,1))), 2)
        |    AS DOUBLE) AS profit,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "region_mom_growth" ->
      """WITH m AS (SELECT r_name, strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS HUGEINT) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |l AS (SELECT *, lag(cents) OVER (PARTITION BY r_name ORDER BY month)
        |    AS prev_cents FROM m)
        |SELECT r_name, month,
        |  CAST(cents AS DOUBLE) / 100.0 AS revenue,
        |  CAST(prev_cents AS DOUBLE) / 100.0 AS prev_revenue,
        |  CASE WHEN prev_cents IS NOT NULL THEN
        |    CAST((cents * 10000 * 2 + prev_cents) // (2 * prev_cents) AS BIGINT)
        |      - 10000 END AS growth_bp
        |FROM l ORDER BY r_name, month""".stripMargin,
    "basket_affinity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_both
        |  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |s AS (SELECT l_partkey, count(*) AS n FROM op GROUP BY 1),
        |t AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
        |j AS (SELECT p1, p2, n_both, sa.n AS n_p1, sb.n AS n_p2, n_orders
        |  FROM p JOIN s sa ON p1 = sa.l_partkey
        |         JOIN s sb ON p2 = sb.l_partkey, t)
        |SELECT p1, p2, n_both, n_p1, n_p2,
        |  CAST((n_orders * n_both * 10000 * 2 + n_p1 * n_p2)
        |    // (2 * n_p1 * n_p2) AS DOUBLE) / 10000.0 AS lift
        |FROM j ORDER BY n_both DESC, p1, p2 LIMIT 100""".stripMargin,
    "revenue_concentration" ->
      """WITH rev AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS HUGEINT) AS cents
        |  FROM orders GROUP BY 1),
        |st AS (SELECT max(cents) // 10000 + 1 AS bucket_step,
        |    sum(cents) AS tot_cents, count(*) AS tot_cust FROM rev),
        |h AS (SELECT cents // bucket_step AS bucket, count(*) AS n_customers,
        |    sum(cents) AS bucket_cents FROM rev, st GROUP BY 1),
        |c AS (SELECT bucket, n_customers,
        |    sum(n_customers) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |      AS cum_customers,
        |    sum(bucket_cents) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |      AS cum_cents
        |  FROM h)
        |SELECT CAST(bucket AS BIGINT) AS bucket, n_customers,
        |  CAST(cum_customers AS BIGINT) AS cum_customers,
        |  CAST((cum_customers * 10000 * 2 + tot_cust) // (2 * tot_cust) AS BIGINT)
        |    AS cum_cust_bp,
        |  CAST((cum_cents * 10000 * 2 + tot_cents) // (2 * tot_cents) AS BIGINT)
        |    AS cum_revenue_bp
        |FROM c, st ORDER BY bucket""".stripMargin,
    "revenue_gini" ->
      """WITH rev AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS HUGEINT) AS cents
        |  FROM orders GROUP BY 1),
        |st AS (SELECT max(cents) // 10000 + 1 AS bucket_step FROM rev),
        |h AS (SELECT cents // bucket_step AS bucket, count(*) AS dc,
        |    sum(cents) AS bucket_cents FROM rev, st GROUP BY 1),
        |c AS (SELECT *, sum(bucket_cents) OVER (ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS r_cum FROM h),
        |c2 AS (SELECT *, coalesce(lag(r_cum) OVER (ORDER BY bucket), 0)
        |    AS r_prev FROM c),
        |a AS (SELECT CAST(sum(dc) AS HUGEINT) AS n_customers,
        |    sum(bucket_cents) AS t_r,
        |    sum(CAST(dc AS HUGEINT) * (r_cum + r_prev)) AS trap FROM c2)
        |SELECT CAST(n_customers AS BIGINT) AS n_customers,
        |  CAST(((n_customers * t_r - trap) * 10000 * 2 + n_customers * t_r)
        |    // (2 * n_customers * t_r) AS BIGINT) AS gini_bp
        |FROM a""".stripMargin,
    "session_funnel" ->
      """WITH lagd AS (SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
        |      - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) > 1800
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events),
        |sess AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM lagd),
        |pos AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_id
        |    ORDER BY ts, event_id) AS rn FROM sess),
        |vv AS (SELECT *, min(CASE WHEN event_type = 'view' THEN rn END)
        |    OVER (PARTITION BY user_id, session_id) AS v FROM pos),
        |cc AS (SELECT *, min(CASE WHEN event_type = 'click' AND rn > v THEN rn END)
        |    OVER (PARTITION BY user_id, session_id) AS c FROM vv),
        |pp AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND rn > c THEN rn END)
        |    OVER (PARTITION BY user_id, session_id) AS p FROM cc),
        |d AS (SELECT user_id, session_id,
        |    max(CASE WHEN p IS NOT NULL THEN 3 WHEN c IS NOT NULL THEN 2
        |      WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS depth
        |  FROM pp GROUP BY 1, 2)
        |SELECT depth, count(*) AS n_sessions FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "rolling_active_users" -> rollingActiveUsersOracle,
    // the indexed twin reads the persisted activity rollup, which is
    // value-identical to the in-query distinct — same oracle
    "active_users_indexed" -> rollingActiveUsersOracle,
    "dau_window_indexed" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS dau
        |FROM ud WHERE day BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY day ORDER BY day""".stripMargin,
    "conversion_lag" ->
      """WITH ev AS (SELECT event_id, user_id, ts, event_type FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |m AS (SELECT user_id, ts, event_type,
        |    max(CASE WHEN event_type = 'click' THEN ts END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
        |  FROM ev),
        |l AS (SELECT (epoch_us(ts) - epoch_us(last_click)) // 1000000 AS lag_secs
        |  FROM m WHERE event_type = 'purchase' AND last_click IS NOT NULL),
        |f AS (SELECT lag_secs FROM l WHERE lag_secs <= 7 * 86400)
        |SELECT lag_secs // 3600 AS lag_hours, count(*) AS n_conversions
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "doc_logprob_bigram" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
        |    i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS g
        |  FROM w WHERE len(ws) >= 2),
        |c AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2, count(*)::BIGINT AS cnt
        |  FROM g0 GROUP BY 1, 2, 3),
        |b AS (SELECT w1, w2, sum(cnt)::BIGINT AS c12 FROM c GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM b GROUP BY 1),
        |s AS (SELECT b.w1, b.w2,
        |    CAST(round(ln(CAST(c12 AS DOUBLE) / c1), 6) AS DECIMAL(18,6)) AS lp
        |  FROM b JOIN ctx USING (w1)),
        |d AS (SELECT c.doc_id, sum(c.cnt)::BIGINT AS n_bigrams,
        |    sum(c.cnt * s.lp) AS s_lp
        |  FROM c JOIN s ON c.w1 = s.w1 AND c.w2 = s.w2 GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  round(CAST(s_lp AS DOUBLE) / n_bigrams, 4) + 0.0 AS avg_logprob
        |FROM d ORDER BY doc_id""".stripMargin,
    "audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |p AS (SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |j AS (SELECT t1, t2, n_both, sa.n AS n_t1, sb.n AS n_t2,
        |    sa.n + sb.n - n_both AS n_either
        |  FROM p JOIN s sa ON t1 = sa.event_type
        |         JOIN s sb ON t2 = sb.event_type)
        |SELECT t1, t2, n_both, n_t1, n_t2,
        |  CAST((n_both * 10000 * 2 + n_either) // (2 * n_either) AS DOUBLE)
        |    / 10000.0 AS jaccard
        |FROM j ORDER BY t1, t2""".stripMargin,
    "user_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |i AS (SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER)
        |      AS island
        |  FROM d),
        |g AS (SELECT user_id, island, count(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, sum(len)::BIGINT AS n_active_days,
        |  count(*)::BIGINT AS n_streaks, max(len)::BIGINT AS longest_streak
        |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin,
    "source_vocab_jaccard" ->
      """WITH sw AS (SELECT DISTINCT source, word FROM (
        |    SELECT source, unnest(string_split(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
        |    FROM documents) WHERE word <> ''),
        |p AS (SELECT a.source AS s1, b.source AS s2, count(*) AS n_both
        |  FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
        |  GROUP BY 1, 2),
        |s AS (SELECT source, count(*) AS n FROM sw GROUP BY 1),
        |j AS (SELECT s1, s2, n_both, sa.n AS n_s1, sb.n AS n_s2,
        |    sa.n + sb.n - n_both AS n_either
        |  FROM p JOIN s sa ON s1 = sa.source JOIN s sb ON s2 = sb.source)
        |SELECT s1, s2, n_both, n_s1, n_s2,
        |  CAST((n_both * 10000 * 2 + n_either) // (2 * n_either) AS DOUBLE)
        |    / 10000.0 AS jaccard
        |FROM j ORDER BY s1, s2""".stripMargin,
    "q7_nation_volume" ->
      """WITH nat2 AS (SELECT n_nationkey, n_name FROM nation
        |  WHERE n_name IN ('NATION_1', 'NATION_2')),
        |j AS (SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS rev
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nat2 sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nat2 cn ON c_nationkey = cn.n_nationkey
        |  WHERE year(l_shipdate) BETWEEN 1996 AND 1997
        |    AND sn.n_name <> cn.n_name)
        |SELECT supp_nation, cust_nation, l_year,
        |  CAST(round(sum(rev), 2) AS DOUBLE) AS revenue, count(*) AS n_lines
        |FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """WITH regnat AS (SELECT n_nationkey FROM nation
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
        |j AS (SELECT year(o_orderdate) AS o_year, sn.n_name AS supp_nation,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS rev
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN regnat ON c_nationkey = regnat.n_nationkey
        |  WHERE year(o_orderdate) BETWEEN 1995 AND 1997),
        |a AS (SELECT o_year,
        |    coalesce(sum(CASE WHEN supp_nation = 'NATION_2' THEN rev END), 0) AS nation_d,
        |    sum(rev) AS total_d FROM j GROUP BY 1),
        |c AS (SELECT *, CAST(nation_d * 1000000 AS HUGEINT) AS n_c,
        |  CAST(total_d * 100 AS HUGEINT) AS d_c FROM a)
        |SELECT o_year, CAST(round(nation_d, 2) AS DOUBLE) AS nation_revenue,
        |  CAST(round(total_d, 2) AS DOUBLE) AS total_revenue,
        |  CAST((n_c * 2 + d_c) // (2 * d_c) AS DOUBLE) / 100.0 AS mkt_share_pct
        |FROM c ORDER BY o_year""".stripMargin,
    "q15_top_supplier" ->
      """WITH revs AS (SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |      CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS rev_d
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT CAST(l_suppkey AS BIGINT) AS suppkey, s_name,
        |  CAST(round(rev_d, 2) AS DOUBLE) AS total_revenue
        |FROM revs JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_d = (SELECT max(rev_d) FROM revs)
        |ORDER BY suppkey""".stripMargin,
    "q17_small_qty" ->
      """WITH branded AS (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#12'),
        |t AS (SELECT l_partkey AS t_partkey,
        |    sum(CAST(l_quantity AS BIGINT)) AS sum_qty, count(*) AS cnt_qty
        |  FROM branded GROUP BY 1),
        |f AS (SELECT sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS s_d,
        |    count(*) AS n_small
        |  FROM branded JOIN t ON l_partkey = t_partkey
        |  WHERE CAST(l_quantity AS BIGINT) * 5 * cnt_qty < sum_qty),
        |c AS (SELECT CAST(s_d * 100 AS HUGEINT) AS cents, n_small FROM f)
        |SELECT CAST((cents * 2 + 7) // 14 AS DOUBLE) / 100.0 AS avg_yearly,
        |  n_small FROM c""".stripMargin,
    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt FROM (
        |  SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |    AND p_size IN (1, 4, 7, 10, 13))
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // Q20-shaped: excess = qty·2·n > part_qty·3 (all-integer 1.5×-mean)
    "q20_excess_suppliers" ->
      """WITH shipped AS (SELECT l_partkey, l_suppkey,
        |  sum(CAST(l_quantity AS BIGINT)) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'large%'
        |    AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |  GROUP BY 1, 2),
        |pp AS (SELECT l_partkey AS t_partkey, sum(qty) AS part_qty,
        |  count(*) AS n_supp FROM shipped GROUP BY 1),
        |ex AS (SELECT DISTINCT l_suppkey FROM shipped
        |  JOIN pp ON l_partkey = t_partkey
        |  WHERE qty * 2 * n_supp > part_qty * 3)
        |SELECT s_suppkey, s_name, n_name FROM supplier
        |  JOIN ex ON s_suppkey = l_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_suppkey""".stripMargin,
    // Q21-shaped: sole late shipper in multi-supplier orders
    "q21_late_suppliers" ->
      """WITH ps AS (SELECT l_orderkey, l_suppkey, max(l_shipdate) AS max_ship
        |  FROM lineitem GROUP BY 1, 2),
        |j AS (SELECT ps.*, (max_ship > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY) AS late
        |  FROM ps JOIN orders ON l_orderkey = o_orderkey),
        |po AS (SELECT l_orderkey, count(*) AS n_supp,
        |  sum(CASE WHEN late THEN 1 ELSE 0 END) AS n_late FROM j GROUP BY 1),
        |c AS (SELECT j.l_suppkey FROM j JOIN po USING (l_orderkey)
        |  WHERE j.late AND po.n_supp >= 2 AND po.n_late = 1)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM c JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,
    // Q2-shaped: decorrelated per-part min over the regional offer
    // table; integer-cent costs, tie rows kept, total-order LIMIT 100
    "q2_min_cost_supplier" ->
      """WITH rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |p AS (SELECT p_partkey, p_name FROM part WHERE p_size IN (15, 25, 35, 45)),
        |offers AS (SELECT l_partkey, l_suppkey,
        |  min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cost_cents
        |  FROM lineitem JOIN p ON l_partkey = p_partkey
        |  JOIN rs ON l_suppkey = rs.s_suppkey GROUP BY 1, 2),
        |best AS (SELECT l_partkey AS b_partkey, min(cost_cents) AS best_cents
        |  FROM offers GROUP BY 1)
        |SELECT s_acctbal, s_name, s_suppkey, n_name, p_partkey, p_name,
        |  CAST(cost_cents AS DOUBLE) / 100.0 AS supply_cost
        |FROM offers JOIN best ON l_partkey = b_partkey AND cost_cents = best_cents
        |JOIN rs ON l_suppkey = rs.s_suppkey
        |JOIN p ON l_partkey = p_partkey
        |ORDER BY s_acctbal DESC, s_name, p_partkey, s_suppkey LIMIT 100""".stripMargin,
    // Q12-shaped: exact-integer conditional counts per ship class
    "q12_ship_priority" ->
      """SELECT l_returnflag AS ship_class,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Q11-shaped: strict exact-decimal cross-multiplied HAVING vs the
    // one-row nation total
    "q11_important_parts" ->
      """WITH v AS (SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_d
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_1' GROUP BY 1),
        |t AS (SELECT sum(value_d) AS total_d FROM v)
        |SELECT l_partkey, CAST(value_d AS DOUBLE) AS part_value
        |FROM v, t WHERE value_d * 10000 > total_d * 20
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    // ATR: integer-cents true range, HALF_UP 4dp average
    "atr_daily" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT user_id, day, h, l,
        |  lag(c) OVER (PARTITION BY user_id ORDER BY day) AS pc FROM dc),
        |tr AS (SELECT user_id, day,
        |  greatest(h - l, abs(h - pc), abs(l - pc)) AS tr
        |  FROM d WHERE pc IS NOT NULL),
        |f AS (SELECT user_id, day,
        |  sum(tr) OVER w AS s_tr, count(*) OVER w AS nd
        |  FROM tr
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, day,
        |  CAST((2 * s_tr * 100 + nd) // (2 * nd) AS DOUBLE) / 10000.0 AS atr
        |FROM f WHERE nd = 14 ORDER BY user_id, day""".stripMargin,
    // stochastic %K in bp; flat channel = 5000 by convention
    "stochastic_k" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT user_id, day, c,
        |  max(h) OVER w AS hh, min(l) OVER w AS ll, count(*) OVER w AS nd
        |  FROM dc
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, day,
        |  CAST(CASE WHEN hh = ll THEN 5000
        |    ELSE (2 * (c - ll) * 10000 + (hh - ll)) // (2 * (hh - ll)) END AS BIGINT) AS k_bp
        |FROM f WHERE nd = 14 ORDER BY user_id, day""".stripMargin,
    // Donchian: integer-cent channel edges, HALF_UP half-sum midline,
    // breakout vs YESTERDAY's channel (integer compares throughout)
    "donchian_channels" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT user_id, day, c,
        |  max(h) OVER w AS u, min(l) OVER w AS lo, count(*) OVER w AS nd
        |  FROM dc
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |p AS (SELECT *, lag(u) OVER pw AS pu, lag(lo) OVER pw AS pl
        |  FROM f WINDOW pw AS (PARTITION BY user_id ORDER BY day))
        |SELECT user_id, day,
        |  CAST(u AS DOUBLE) / 100.0 AS upper_band,
        |  CAST(lo AS DOUBLE) / 100.0 AS lower_band,
        |  CAST((u + lo + 1) // 2 AS DOUBLE) / 100.0 AS mid,
        |  CASE WHEN c > pu THEN 'breakout_up' WHEN c < pl THEN 'breakout_down'
        |       ELSE 'inside' END AS signal
        |FROM p WHERE nd = 14 AND pu IS NOT NULL ORDER BY user_id, day""".stripMargin,
    // MACD as an INTEGER micro-cent recursion (no floats → no decimal
    // rounding boundaries): ema steps via the signed HALF_UP identity,
    // replayed with recursive CTEs; price units = one /1e8 at emit
    // Heikin-Ashi: quarter-cent recursion, /400.0 exact-emit doubles
    "heikin_ashi" -> heikinAshiOracle,
    // SuperTrend: conditional band recursion, repeated-CASE replay
    "supertrend" -> supertrendOracle,
    // ADX: four chained Wilder recursions replayed with recursive CTEs
    "adx_daily" -> adxOracle,
    // the round-9 recursions' persisted-bars twins share the direct
    // forms' oracles (identical output contract off the bar artifact)
    "supertrend_indexed" -> supertrendOracle,
    "adx_indexed" -> adxOracle,
    "heikin_ashi_indexed" -> heikinAshiOracle,
    // time-series diagnostics: exact-moment ACF, tie-corrected
    // Kendall-vs-time, windowed Theil–Sen lower-median slope, integer
    // CUSUM recursion, Holt α=β=1/2 halving recursion
    "acf_lags" -> acfOracle,
    "kendall_trend" -> kendallOracle,
    "theil_sen" -> theilSenOracle,
    "cusum_changepoint" -> cusumOracle,
    // the streaming CUSUM emits exactly the CLOSED days (a day
    // finalizes when a later day's tick arrives; each series'
    // still-open last day never emits under Trigger.Once) — the batch
    // recursion restricted to rn < m IS its exact domain
    "cusum_stream_ingested" -> cusumOracle.replace(
      "ORDER BY r.user_id, r.day",
      "WHERE r.rn < r.m ORDER BY r.user_id, r.day"),
    "holt_stream_ingested" -> holtOracle.replace(
      "ORDER BY r.user_id, r.day",
      "WHERE r.rn < r.m ORDER BY r.user_id, r.day"),
    "holt_linear" -> holtOracle,
    "ljung_box" -> ljungBoxOracle,
    "pacf_lags" -> pacfOracle,
    "seasonal_decompose" -> seasonalOracle,
    "hampel_filter" -> hampelOracle,
    "series_interpolate" -> interpolateOracle,
    "ccf_market" -> ccfOracle,
    "forecast_skill" -> forecastSkillOracle,
    // variance ratio / runs test: exact integer moments + one pinned
    // float chain; Holt–Winters: the seasonal halving recursion as a
    // recursive CTE carrying the 7-element seasonal list
    "variance_ratio" -> varianceRatioOracle,
    "runs_test" -> runsTestOracle,
    "holt_winters" -> holtWintersOracle,
    // the diagnostics' persisted-bars twins share the direct forms'
    // oracles (identical output contract off the bar artifact)
    "acf_indexed" -> acfOracle,
    "kendall_indexed" -> kendallOracle,
    "theil_sen_indexed" -> theilSenOracle,
    "cusum_indexed" -> cusumOracle,
    "holt_indexed" -> holtOracle,
    "ljung_box_indexed" -> ljungBoxOracle,
    "pacf_indexed" -> pacfOracle,
    "seasonal_indexed" -> seasonalOracle,
    "hampel_indexed" -> hampelOracle,
    "interpolate_indexed" -> interpolateOracle,
    "ccf_indexed" -> ccfOracle,
    "forecast_skill_indexed" -> forecastSkillOracle,
    "variance_ratio_indexed" -> varianceRatioOracle,
    "runs_test_indexed" -> runsTestOracle,
    "holt_winters_indexed" -> holtWintersOracle,
    "macd_daily" -> macdOracle,
    // Keltner: EMA(20) of typical price ± 2·Wilder-ATR(10), both as
    // INTEGER micro-cent recursions (HALF_UP identities, no floats)
    "keltner_channels" -> keltnerOracle,
    // Wilder RSI: micro-cent INTEGER recursion — SMA seed and 1/n
    // smoothing via the HALF_UP identity, rsi in bp all-integer
    "rsi_wilder" -> rsiWilderOracle,
    // Aroon: most-recent-extreme ties pinned by the integer key
    // h*10^5+rn (max) / l*10^5+(10^5-1-rn) (min) — a window max/min
    // IS the tie-broken argmax, no argmax floats in any engine
    "aroon_daily" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, day, h, l,
        |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM dc),
        |f AS (SELECT user_id, day, rn,
        |  max(h * 100000 + rn) OVER w AS hk,
        |  min(l * 100000 + (99999 - rn)) OVER w AS lk,
        |  count(*) OVER w AS nd
        |  FROM r
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, day,
        |  CAST((2 * (14 - (rn - hk % 100000)) * 10000 + 14) // 28 AS BIGINT) AS aroon_up_bp,
        |  CAST((2 * (14 - (rn - (99999 - lk % 100000))) * 10000 + 14) // 28 AS BIGINT) AS aroon_down_bp
        |FROM f WHERE nd = 14 ORDER BY user_id, day""".stripMargin,
    // Williams %R: the stochastic mirror — bp of (hh−c)/(hh−ll),
    // flat channel 5000
    "williams_r" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT user_id, day, c,
        |  max(h) OVER w AS hh, min(l) OVER w AS ll, count(*) OVER w AS nd
        |  FROM dc
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, day,
        |  CAST(CASE WHEN hh = ll THEN 5000
        |    ELSE (2 * (hh - c) * 10000 + (hh - ll)) // (2 * (hh - ll)) END AS BIGINT) AS wr_bp
        |FROM f WHERE nd = 14 ORDER BY user_id, day""".stripMargin,
    // CCI all-integer: (n·T−S)·n·1000/(15·D) — the /3s cancel; signed
    // HALF_UP, zero-deviation frame emits 0; list fold replays the
    // frame deviation sum
    "cci_daily" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, day, t3,
        |  sum(t3) OVER w AS s3, list(t3) OVER w AS devs, count(*) OVER w AS nd
        |  FROM (SELECT user_id, day, h + l + c AS t3 FROM dc)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |g AS (SELECT user_id, day, t3, s3,
        |  list_sum(list_transform(devs, x -> abs(20 * x - s3))) AS d3
        |  FROM t WHERE nd = 20)
        |SELECT user_id, day,
        |  CAST(CASE WHEN d3 = 0 THEN 0
        |    WHEN (20 * t3 - s3) >= 0
        |      THEN (2 * (20 * t3 - s3) * 2000000 + 15 * d3) // (2 * 15 * d3)
        |    ELSE -((2 * (s3 - 20 * t3) * 2000000 + 15 * d3) // (2 * 15 * d3))
        |  END AS BIGINT) AS cci_c
        |FROM g ORDER BY user_id, day""".stripMargin,
    // ROC/momentum: exact n-day cent delta + signed HALF_UP bp ratio
    "roc_momentum" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, day, c,
        |  lag(c, 10) OVER (PARTITION BY user_id ORDER BY day) AS pc FROM dc)
        |SELECT user_id, day,
        |  CAST(c - pc AS DOUBLE) / 100.0 AS momentum,
        |  CAST(CASE WHEN (c - pc) >= 0
        |      THEN (2 * (c - pc) * 10000 + pc) // (2 * pc)
        |    ELSE -((2 * (pc - c) * 10000 + pc) // (2 * pc)) END AS BIGINT) AS roc_bp
        |FROM t WHERE pc IS NOT NULL ORDER BY user_id, day""".stripMargin,
    // MFI: tick-count-weighted directional flow, bp HALF_UP; equal
    // typical prices drop out, flowless frame emits 5000
    "mfi_daily" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |  count(*) AS n_obs
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, day, h + l + c AS t3, n_obs,
        |  lag(h + l + c) OVER (PARTITION BY user_id ORDER BY day) AS pt3 FROM dc),
        |g AS (SELECT user_id, day,
        |  CASE WHEN t3 > pt3 THEN t3 * n_obs ELSE 0 END AS pmf,
        |  CASE WHEN t3 < pt3 THEN t3 * n_obs ELSE 0 END AS nmf
        |  FROM t WHERE pt3 IS NOT NULL),
        |f AS (SELECT user_id, day,
        |  sum(pmf) OVER w AS s_pmf, sum(nmf) OVER w AS s_nmf, count(*) OVER w AS nd
        |  FROM g
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, day,
        |  CAST(CASE WHEN s_pmf + s_nmf = 0 THEN 5000
        |    ELSE (2 * s_pmf * 10000 + (s_pmf + s_nmf)) // (2 * (s_pmf + s_nmf))
        |  END AS BIGINT) AS mfi_bp
        |FROM f WHERE nd = 14 ORDER BY user_id, day""".stripMargin,
    // Floor pivots off YESTERDAY's bar: one HALF_UP /3 pivot, exact
    // integer ladder, integer-compare zone signal
    "pivot_points" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, day, c,
        |  lag(h) OVER pw AS ph, lag(l) OVER pw AS pl, lag(c) OVER pw AS pcl
        |  FROM dc WINDOW pw AS (PARTITION BY user_id ORDER BY day)),
        |p AS (SELECT *, (2 * (ph + pl + pcl) + 3) // 6 AS pv
        |  FROM t WHERE ph IS NOT NULL)
        |SELECT user_id, day,
        |  CAST(pv AS DOUBLE) / 100.0 AS pivot,
        |  CAST(2 * pv - pl AS DOUBLE) / 100.0 AS r1,
        |  CAST(2 * pv - ph AS DOUBLE) / 100.0 AS s1,
        |  CAST(pv + (ph - pl) AS DOUBLE) / 100.0 AS r2,
        |  CAST(pv - (ph - pl) AS DOUBLE) / 100.0 AS s2,
        |  CASE WHEN c > 2 * pv - pl THEN 'above_r1'
        |       WHEN c > pv THEN 'above_pivot'
        |       WHEN c >= 2 * pv - ph THEN 'above_s1'
        |       ELSE 'below_s1' END AS zone
        |FROM p ORDER BY user_id, day""".stripMargin,
    // Ichimoku (trading-day shift): every line a HALF_UP integer-cent
    // channel midpoint; senkou/chikou displaced by kijun BAR rows via
    // lag/lead (null until the displaced bar exists, both engines)
    "ichimoku_lines" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS h,
        |  CAST(CAST(min(round(value, 2)) AS DECIMAL(18,2)) * 100 AS BIGINT) AS l,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, day, c,
        |  CASE WHEN count(*) OVER w3 = 3 THEN (max(h) OVER w3 + min(l) OVER w3 + 1) // 2 END AS tk,
        |  CASE WHEN count(*) OVER w7 = 7 THEN (max(h) OVER w7 + min(l) OVER w7 + 1) // 2 END AS kj,
        |  CASE WHEN count(*) OVER w14 = 14 THEN (max(h) OVER w14 + min(l) OVER w14 + 1) // 2 END AS sb_raw
        |  FROM dc
        |  WINDOW w3 AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |         w7 AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
        |         w14 AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |s AS (SELECT user_id, day, tk, kj,
        |  lag((tk + kj + 1) // 2, 7) OVER pw AS sa,
        |  lag(sb_raw, 7) OVER pw AS sb,
        |  lead(c, 7) OVER pw AS ck
        |  FROM b WINDOW pw AS (PARTITION BY user_id ORDER BY day))
        |SELECT user_id, day,
        |  CAST(tk AS DOUBLE) / 100.0 AS tenkan,
        |  CAST(kj AS DOUBLE) / 100.0 AS kijun,
        |  CAST(sa AS DOUBLE) / 100.0 AS senkou_a,
        |  CAST(sb AS DOUBLE) / 100.0 AS senkou_b,
        |  CAST(ck AS DOUBLE) / 100.0 AS chikou
        |FROM s WHERE tk IS NOT NULL AND kj IS NOT NULL
        |ORDER BY user_id, day""".stripMargin,
    // Benford: expected bp are pre-rounded constants; share via the
    // HALF_UP identity; all nine digits report even at zero count
    "benford_totalprice" ->
      """WITH c AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS d
        |  FROM (SELECT CAST(CAST(round(o_totalprice, 2) AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |        FROM orders) WHERE cents > 0),
        |g AS (SELECT d, count(*) AS n FROM c GROUP BY 1),
        |t AS (SELECT sum(n) AS total FROM g),
        |dg AS (SELECT CAST(range AS INT) AS digit FROM range(1, 10))
        |SELECT digit, CAST(coalesce(n, 0) AS BIGINT) AS n,
        |  CAST((2 * coalesce(n, 0) * 10000 + total) // (2 * total) AS BIGINT) AS share_bp,
        |  CAST([3010,1761,1249,969,792,669,580,512,458][digit] AS BIGINT) AS expected_bp,
        |  CAST((2 * coalesce(n, 0) * 10000 + total) // (2 * total)
        |    - [3010,1761,1249,969,792,669,580,512,458][digit] AS BIGINT) AS dev_bp
        |FROM dg LEFT JOIN g ON digit = d CROSS JOIN t
        |ORDER BY digit""".stripMargin,
    // the bloom is a pass-through for correctness: oracle = the exact
    // semi join the operator ends with
    "bloom_prune_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // cents key via decimal (double*100→BIGINT casts truncate in Spark
    // but round in DuckDB); suppkey breaks exact-cents price ties
    "argmin_cheapest" ->
      """WITH k AS (SELECT l_partkey, l_suppkey, l_extendedprice,
        |  lpad(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 14, '0')
        |    || lpad(CAST(l_suppkey AS VARCHAR), 12, '0') AS okey
        |  FROM lineitem),
        |b AS (SELECT l_partkey, min_by(l_suppkey, okey) AS suppkey,
        |  round(min(l_extendedprice), 2) AS best_price FROM k GROUP BY l_partkey)
        |SELECT l_partkey, suppkey, s_name, best_price
        |FROM b JOIN supplier ON suppkey = s_suppkey ORDER BY l_partkey""".stripMargin,
    "mad_outliers" ->
      """WITH b AS (SELECT o_custkey AS entity_id, o_orderkey, o_totalprice,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM orders),
        |r AS (SELECT *, row_number() OVER (PARTITION BY entity_id ORDER BY cents, o_orderkey) AS rn,
        |  count(*) OVER (PARTITION BY entity_id) AS n FROM b),
        |med AS (SELECT entity_id, cents AS med_c, n FROM r WHERE rn = (n + 1) // 2),
        |dev AS (SELECT b.entity_id, b.o_orderkey, b.o_totalprice, b.cents,
        |  abs(b.cents - med.med_c) AS dev_c, med.n
        |  FROM b JOIN med ON b.entity_id = med.entity_id),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY entity_id ORDER BY dev_c, o_orderkey) AS rn FROM dev),
        |mad AS (SELECT entity_id, dev_c AS mad_c FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.o_orderkey, d.entity_id, round(d.o_totalprice, 2) AS total, d.dev_c, m.mad_c
        |FROM dev d JOIN mad m ON d.entity_id = m.entity_id
        |WHERE d.n >= 5 AND m.mad_c > 0 AND d.dev_c > 3 * m.mad_c
        |ORDER BY d.o_orderkey""".stripMargin,
    // first/last-in-time via min_by/max_by over a composite
    // lexicographic key (epoch micros ‖ event id, both zero-padded) —
    // DuckDB's min_by cannot order by a struct; decimal sum for the
    // turnover so partial-aggregation order can't drift the hash
    "ohlc_resample" ->
      """WITH s AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS period_key,
        |  lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0') AS okey,
        |  value FROM events)
        |SELECT user_id, period_key,
        |  round(min_by(value, okey), 2) AS open,
        |  round(max(value), 2) AS high,
        |  round(min(value), 2) AS low,
        |  round(max_by(value, okey), 2) AS close,
        |  count(*) AS n_obs,
        |  CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY 1, 2 ORDER BY user_id, period_key""".stripMargin,
    // the streaming form computes the same bars minus the decimal
    // turnover column (the windowed agg carries OHLC + count)
    // session_window's OWN algebra: new session at diff >= gap
    // (strict-< window overlap), end = last event + gap — deliberately
    // NOT the batch sessionize rule (diff > gap, end = last event).
    // The split compares at MICROSECOND precision (epoch_us), because
    // that is the precision session_window merges at — whole-second
    // diffs would split/merge differently for a gap within 1 s of the
    // boundary (every events ts carries sub-second parts)
    "session_stream_ingested" ->
      """SELECT user_id AS entity_id,
        |strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |strftime(max(ts) + INTERVAL 30000 SECOND, '%Y-%m-%d %H:%M:%S') AS session_end,
        |count(*) AS n_events,
        |CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        |FROM (SELECT user_id, ts, value,
        |sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |FROM (SELECT user_id, event_id, ts, value,
        |CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 30000000000 THEN 1 ELSE 0 END AS new_s
        |FROM events))
        |GROUP BY user_id, sid ORDER BY 1, 2""".stripMargin,
    "rollup_stream_ingested" ->
      """SELECT user_id AS entity_id, strftime(ts, '%Y-%m-%d') AS period_key,
        |count(*) AS cnt_value,
        |CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value,
        |max(value) AS max_value, min(value) AS min_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ohlc_stream_ingested" ->
      """WITH s AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS period_key,
        |  lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0') AS okey,
        |  value FROM events)
        |SELECT user_id, period_key,
        |  round(min_by(value, okey), 2) AS open,
        |  round(max(value), 2) AS high,
        |  round(min(value), 2) AS low,
        |  round(max_by(value, okey), 2) AS close,
        |  count(*) AS n_obs
        |FROM s GROUP BY 1, 2 ORDER BY user_id, period_key""".stripMargin,
    "ohlc_weekly_incremental" ->
      """WITH s AS (SELECT user_id,
        |  strftime(date_trunc('week', CAST(ts AS DATE)), '%Y-%m-%d') AS week_key,
        |  lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0') AS okey,
        |  value FROM events)
        |SELECT user_id, week_key,
        |  round(min_by(value, okey), 2) AS open,
        |  round(max(value), 2) AS high,
        |  round(min(value), 2) AS low,
        |  round(max_by(value, okey), 2) AS close,
        |  count(*) AS n_obs,
        |  CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY 1, 2 ORDER BY user_id, week_key""".stripMargin,
    "api_series_ohlc" ->
      """WITH s AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS period_key,
        |  lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0') AS okey,
        |  value FROM events WHERE user_id = 1)
        |SELECT user_id, period_key,
        |  round(min_by(value, okey), 2) AS open,
        |  round(max(value), 2) AS high,
        |  round(min(value), 2) AS low,
        |  round(max_by(value, okey), 2) AS close,
        |  count(*) AS n_obs,
        |  CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY 1, 2
        |HAVING period_key >= '2024-01-08' AND period_key <= '2024-01-21'
        |ORDER BY period_key""".stripMargin,
    "returns_daily" ->
      """WITH s AS (SELECT user_id, event_id, value,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events)
        |SELECT user_id, event_id, round(value / prev - 1.0, 6) + 0.0 AS ret
        |FROM s WHERE prev IS NOT NULL AND prev <> 0 ORDER BY user_id, event_id""".stripMargin,
    // exact decimal frame sums + cross-multiplied compare: no float
    // SMA ever exists, so segment-tree (DuckDB) vs sequential (Spark)
    // window summation cannot flip the signal
    "sma_crossover" ->
      """WITH s AS (SELECT user_id, event_id, ts, CAST(round(value, 2) AS DECIMAL(18,2)) AS vd FROM events),
        |w AS (SELECT user_id, event_id,
        |  sum(vd) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS s7,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS c7,
        |  sum(vd) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS s28,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS c28,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM s),
        |f AS (SELECT user_id, event_id, rn, (s7 * c28 > s28 * c7) AS above,
        |  lag(s7 * c28 > s28 * c7) OVER (PARTITION BY user_id ORDER BY rn) AS prev_above
        |  FROM w WHERE rn >= 28)
        |SELECT user_id, event_id, CASE WHEN above THEN 'golden' ELSE 'death' END AS signal
        |FROM f WHERE prev_above IS NOT NULL AND above <> prev_above
        |ORDER BY user_id, event_id""".stripMargin,
    "max_drawdown" ->
      """WITH p AS (SELECT user_id, value,
        |  max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM events),
        |d AS (SELECT user_id, round((peak - value) / peak, 6) AS dd FROM p WHERE peak > 0)
        |SELECT user_id, max(dd) AS max_drawdown, count(*) AS n_obs
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Cutler's RSI: all-integer cent deltas, frame sums, HALF_UP bp
    // identity — flat frame = 5000 bp by convention
    "rsi_cutler" -> rsiOracle,
    // the persisted-bars twin is value-identical by contract
    "rsi_indexed" -> rsiOracle,
    // indexed twins share the direct forms' oracles (bit-identical by
    // construction — the fold is the same, only the input layout
    // changes)
    "macd_indexed" -> macdOracle,
    "rsi_wilder_indexed" -> rsiWilderOracle,
    "keltner_indexed" -> keltnerOracle,
    // breach test multiplied through by n and squared: dev = c·n − s,
    // breach iff dev² > k²·(n·s2 − s²) — no float σ ever exists
    "bollinger_breaches" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT user_id, day, c,
        |  sum(CAST(c AS HUGEINT)) OVER w AS s,
        |  sum(CAST(c AS HUGEINT) * c) OVER w AS s2,
        |  count(*) OVER w AS nd
        |  FROM dc
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |g AS (SELECT user_id, day, c, s, nd,
        |  c * 20 - s AS dev,
        |  s2 * 20 - s * s AS varn2
        |  FROM f WHERE nd = 20)
        |SELECT user_id, day, CAST(c AS DOUBLE) / 100.0 AS close,
        |  CASE WHEN dev > 0 THEN 'upper' ELSE 'lower' END AS band,
        |  CAST((2 * s * 100 + nd) // (2 * nd) AS DOUBLE) / 10000.0 AS band_mean
        |FROM g WHERE dev * dev > varn2 * 4 ORDER BY user_id, day""".stripMargin,
    "obv_daily" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        |  count(*) AS n_obs
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT user_id, day, n_obs,
        |  c - lag(c) OVER (PARTITION BY user_id ORDER BY day) AS delta FROM dc),
        |s AS (SELECT user_id, day,
        |  CASE WHEN delta IS NULL OR delta = 0 THEN 0
        |       WHEN delta > 0 THEN n_obs ELSE -n_obs END AS signed FROM d)
        |SELECT user_id, day,
        |  CAST(sum(signed) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
        |FROM s ORDER BY user_id, day""".stripMargin,
    // signed bp change via the positive-operand HALF_UP identity
    "top_movers" ->
      """WITH dc AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(CAST(max_by(round(value, 2),
        |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || lpad(CAST(event_id AS VARCHAR), 12, '0'))
        |    AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT user_id, day, c,
        |  lag(c) OVER (PARTITION BY user_id ORDER BY day) AS p FROM dc)
        |SELECT user_id, day, CAST(p AS DOUBLE) / 100.0 AS prev_close,
        |  CAST(c AS DOUBLE) / 100.0 AS close,
        |  (2 * c * 10000 + p) // (2 * p) - 10000 AS change_bp
        |FROM d WHERE p IS NOT NULL AND p > 0 AND c > 0
        |ORDER BY abs((2 * c * 10000 + p) // (2 * p) - 10000) DESC, user_id, day
        |LIMIT 20""".stripMargin,
    // exact decimal moments; the final corr division is the only float
    "series_corr_topn" ->
      """WITH daily AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
        |  sum(CAST(CAST(round(value, 2) AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |top AS (SELECT user_id FROM (SELECT user_id, sum(CAST(x AS DECIMAL(38,0))) AS total
        |  FROM daily GROUP BY 1) ORDER BY total DESC, user_id LIMIT 8),
        |dt AS (SELECT d.* FROM daily d JOIN top t USING (user_id)),
        |pairs AS (SELECT a.user_id AS u1, b.user_id AS u2,
        |  count(*) AS n_days,
        |  sum(CAST(a.x AS DECIMAL(38,0))) AS sx,
        |  sum(CAST(b.x AS DECIMAL(38,0))) AS sy,
        |  sum(CAST(a.x AS DECIMAL(38,0)) * b.x) AS sxy,
        |  sum(CAST(a.x AS DECIMAL(38,0)) * a.x) AS sxx,
        |  sum(CAST(b.x AS DECIMAL(38,0)) * b.x) AS syy
        |  FROM dt a JOIN dt b ON a.day = b.day AND a.user_id < b.user_id
        |  GROUP BY 1, 2)
        |SELECT u1, u2, n_days,
        |  round(CAST(n_days * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE) *
        |         CAST(n_days * syy - sy * sy AS DOUBLE)), 4) + 0.0 AS corr
        |FROM pairs
        |WHERE n_days * sxx - sx * sx > 0 AND n_days * syy - sy * sy > 0
        |ORDER BY u1, u2""".stripMargin,
    // exact 4dp HALF_UP of N/Q via floor((2·N·10⁴+Q)/2Q) on cent-scaled
    // BIGINTs — round(double,4) is engine-divergent at half boundaries
    "vwap_monthly" ->
      """WITH g AS (SELECT l_suppkey, strftime(l_shipdate, '%Y-%m') AS period_key,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS notional_d,
        |  sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_d
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT *, CAST(notional_d * 100 AS BIGINT) AS n_c, CAST(qty_d * 100 AS BIGINT) AS q_c
        |  FROM g WHERE qty_d > 0)
        |SELECT l_suppkey, period_key,
        |  CAST((n_c * 20000 + q_c) // (q_c * 2) AS DOUBLE) / 10000.0 AS vwap,
        |  CAST(notional_d AS DOUBLE) AS notional
        |FROM c ORDER BY l_suppkey, period_key""".stripMargin,
    // the indexed probe must reproduce the scan path bit-for-bit
    // (shared scoring formula) — one oracle for both
    "bm25_indexed" -> bm25Oracle,
    // the stream-grown posting table carries the additive full-corpus
    // stats stamp, so the probe is oracle-identical to bm25_indexed
    "bm25_stream_ingested" -> bm25Oracle,
    // same fixed-point rational BM25 as Corpus.bm25TopK (terms must
    // match the operator's default query; all-integer, so the scores
    // are engine-exact)
    "bm25_topk" -> bm25Oracle,
    "tfidf_top_terms" ->
      """WITH wds AS (SELECT doc_id, unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM wds GROUP BY 1, 2),
        |dfr AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.word, tf.tf, dfr.df, n.n_docs,
        |CAST(tf.tf * n.n_docs AS DOUBLE) / dfr.df AS score
        |FROM tf JOIN dfr USING (word) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rn FROM sc)
        |SELECT doc_id, word, tf, df,
        |CAST((tf * n_docs * 20000 + df) // (2 * df) AS DOUBLE) / 10000 AS tfidf, rn
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "content_delta" ->
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents
        |WHERE doc_id % 3 = 0 AND md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) NOT IN
        |(SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) FROM documents WHERE doc_id % 2 = 0)
        |ORDER BY doc_id""".stripMargin,
    // per-snapshot dedupe by the fingerprint-window min rule, then a
    // full-outer fp join classified into added/removed/retained
    "corpus_drift" ->
      """WITH b AS (SELECT doc_id, lang, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        |len(string_split_regex(trim(text), '\s+'))::BIGINT AS toks FROM documents),
        |od AS (SELECT fp, lang AS o_lang, toks AS o_toks FROM
        |  (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS m FROM b WHERE doc_id % 2 = 0) WHERE doc_id = m),
        |nd AS (SELECT fp, lang AS n_lang, toks AS n_toks FROM
        |  (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS m FROM b WHERE doc_id % 3 = 0) WHERE doc_id = m),
        |j AS (SELECT coalesce(n_lang, o_lang) AS lang, (o_lang IS NULL) AS added, (n_lang IS NULL) AS removed, o_toks, n_toks
        |  FROM od FULL OUTER JOIN nd USING (fp))
        |SELECT lang,
        |sum(CASE WHEN added THEN 1 ELSE 0 END)::BIGINT AS n_added,
        |sum(CASE WHEN removed THEN 1 ELSE 0 END)::BIGINT AS n_removed,
        |sum(CASE WHEN NOT added AND NOT removed THEN 1 ELSE 0 END)::BIGINT AS n_retained,
        |sum(CASE WHEN added THEN n_toks ELSE 0 END)::BIGINT AS tokens_added,
        |sum(CASE WHEN removed THEN o_toks ELSE 0 END)::BIGINT AS tokens_removed
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-7), i -> array_to_string(ws[i:i+7], ' '))) AS gram FROM w WHERE len(ws) >= 8),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0 AND doc_id < 500),
        |hits AS (SELECT DISTINCT g.doc_id, g.gram FROM g JOIN bench USING (gram) WHERE NOT (g.doc_id % 10 = 0 AND g.doc_id < 500))
        |SELECT doc_id, count(*)::BIGINT AS n_contaminated_grams FROM hits GROUP BY 1 ORDER BY 1""".stripMargin,
    // novelty: first-occurrence via a gram-key window min, share via
    // the HALF_UP bp identity
    "novelty_curve" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |g0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-7), i -> array_to_string(ws[i:i+7], ' '))) AS gram FROM w WHERE len(ws) >= 8),
        |g AS (SELECT DISTINCT doc_id, gram FROM g0),
        |f AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY gram) AS first_doc FROM g)
        |SELECT doc_id, count(*)::BIGINT AS n_grams,
        |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST((2 * sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 10000 + count(*))
        |    // (2 * count(*)) AS BIGINT) AS novelty_bp
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the per-benchmark leak report: decontaminate's gram CTEs with
    // the aggregation flipped to the benchmark side; zero-leak bench
    // docs keep a row of zeros via the left join
    "contamination_report" ->
      """WITH w AS (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-7), i -> array_to_string(ws[i:i+7], ' '))) AS gram FROM w WHERE len(ws) >= 8),
        |bench AS (SELECT DISTINCT doc_id AS bench_id, gram FROM g WHERE doc_id % 10 = 0 AND doc_id < 500),
        |hits AS (SELECT DISTINCT b.bench_id, g.gram, g.doc_id FROM g JOIN bench b USING (gram)
        |  WHERE NOT (g.doc_id % 10 = 0 AND g.doc_id < 500)),
        |agg AS (SELECT bench_id, count(DISTINCT gram) AS nl, count(DISTINCT doc_id) AS nd FROM hits GROUP BY 1),
        |base AS (SELECT bench_id, count(*) AS ng FROM bench GROUP BY 1)
        |SELECT base.bench_id, CAST(base.ng AS BIGINT) AS n_grams,
        |CAST(coalesce(agg.nl, 0) AS BIGINT) AS n_leaked_grams,
        |CAST(coalesce(agg.nd, 0) AS BIGINT) AS n_corpus_docs
        |FROM base LEFT JOIN agg USING (bench_id) ORDER BY 1""".stripMargin,
    // the curation end product: every signal CTE is the corresponding
    // single-query oracle verbatim (quality_filter, dedup_exact,
    // decontaminate), composed on doc_id
    // the shipped corpus: keep-list CTEs select the kept ids, strip
    // CTEs rewrite span-deduplicated text — joined on doc_id
    "corpus_curated" ->
      """WITH w AS (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt,
        |string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws FROM documents),
        |fp AS (SELECT doc_id, md5(nt) AS f FROM w),
        |canon AS (SELECT f, min(doc_id) AS canon_id FROM fp GROUP BY 1),
        |q AS (SELECT doc_id,
        |  (((2 * least(len(string_split_regex(trim(text), '\s+')), 100) * (10000 - (CASE WHEN length(text) > 0 THEN (2 * len(regexp_extract_all(text, '[.!?,;:]')) * 10000 + length(text)) // (2 * length(text)) ELSE 0 END)) + 100) // 200) >= 5000
        |   AND len(string_split_regex(trim(text), '\s+')) >= 20) AS is_quality FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-7), i -> array_to_string(ws[i:i+7], ' '))) AS gram FROM w WHERE len(ws) >= 8),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0 AND doc_id < 500),
        |cont AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram) WHERE NOT (g.doc_id % 10 = 0 AND g.doc_id < 500)),
        |keepd AS (SELECT fp.doc_id FROM fp JOIN canon ON fp.f = canon.f JOIN q ON fp.doc_id = q.doc_id
        |  LEFT JOIN cont ON fp.doc_id = cont.doc_id
        |  WHERE q.is_quality AND fp.doc_id = canon.canon_id AND NOT (fp.doc_id % 10 = 0 AND fp.doc_id < 500) AND cont.doc_id IS NULL),
        |tt AS (SELECT doc_id, CASE WHEN nt = '' THEN CAST([] AS VARCHAR[]) ELSE ws END AS ws FROM w),
        |g2 AS (SELECT doc_id, u.gpos AS gpos, u.gk AS gk FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
        |    i -> {'gpos': i - 1, 'gk': substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 16)})) AS u
        |  FROM tt WHERE len(ws) >= 8)),
        |own AS (SELECT gk, min(doc_id) AS owner FROM g2 GROUP BY 1 HAVING min(doc_id) <> max(doc_id)),
        |rem AS (SELECT g2.doc_id, g2.gpos FROM g2 JOIN own USING (gk) WHERE g2.doc_id <> own.owner),
        |cov AS (SELECT DISTINCT doc_id, gpos + r.i AS tpos FROM rem, range(8) r(i)),
        |tok AS (SELECT doc_id, v.tpos AS tpos, v.tok AS tok FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
        |    i -> {'tpos': i - 1, 'tok': ws[i]})) AS v FROM tt)),
        |keptt AS (SELECT tok.doc_id, tok.tpos, tok.tok FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.tpos = cov.tpos WHERE cov.tpos IS NULL),
        |a AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS kept_text FROM keptt GROUP BY 1),
        |c2 AS (SELECT doc_id, count(*)::BIGINT AS n_removed FROM cov GROUP BY 1)
        |SELECT tt.doc_id, coalesce(a.kept_text, '') AS kept_text, len(tt.ws)::BIGINT AS n_tokens,
        |coalesce(c2.n_removed, 0)::BIGINT AS n_removed
        |FROM tt JOIN keepd ON tt.doc_id = keepd.doc_id LEFT JOIN a ON tt.doc_id = a.doc_id
        |LEFT JOIN c2 ON tt.doc_id = c2.doc_id
        |ORDER BY tt.doc_id""".stripMargin,
    "corpus_keep_list" -> keepListOracle,
    // the one-row stage-survival funnel over the SAME keep-list CTEs
    "curation_funnel" ->
      s"""WITH kl AS ($keepListOracle)
         |SELECT count(*)::BIGINT AS n_total,
         |  sum(CASE WHEN is_quality THEN 1 ELSE 0 END)::BIGINT AS n_quality,
         |  sum(CASE WHEN is_quality AND is_canonical THEN 1 ELSE 0 END)::BIGINT AS n_canonical,
         |  sum(CASE WHEN is_quality AND is_canonical AND NOT is_benchmark THEN 1 ELSE 0 END)::BIGINT AS n_non_benchmark,
         |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept
         |FROM kl""".stripMargin,
    // §G multimodal driver gates: full phash near-dup replay (see
    // phashOracleSql) and the digest-dedup canonical-min contract
    // (grouped by the colliding seed class — sha256-injective, so
    // byte-equal payloads ⇔ equal seeds)
    "media_phash_neardup" -> phashOracleSql,
    "media_phash_indexed" -> phashOracleSql,
    // both banding schemes are pigeonhole-exact at the gate threshold,
    // so the stream-grown media index probes oracle-identically
    "media_stream_ingested" -> phashOracleSql,
    "media_phash_incremental" -> phashIncrOracleSql,
    "media_phash_realistic_chunk" -> phashRealisticOracleSql,
    "media_phash_realistic_combo" -> phashRealisticOracleSql,
    "media_exact_dup" ->
      """SELECT doc_id AS media_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS modality,
        |  min(doc_id) OVER (PARTITION BY doc_id % 7) AS canonical_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY doc_id % 7) AS is_dup
        |FROM documents ORDER BY media_id""".stripMargin
  )
}
