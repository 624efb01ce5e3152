package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ApiSurface, Corpus, Dedup, Rollups}
import graft.sources.{Sinks, Tables}

/** One timed serve/ingest op. `kind` is the op type, `ok` false when it
  * threw or its answer failed the invariant checked for it.
  */
final case class OpSample(seq: Int, kind: String, group: String, ms: Double,
                          ok: Boolean, error: String, rows: Long)

/** serve_ingest: a dashboard backend in a closed loop with one client.
  * Lookups read tables persisted at set-up (monthly and daily rollups
  * written through `graft.sources.Sinks`, the MinHash and BM25 indexes);
  * ingest ops check a batch for novelty against the MinHash index, append
  * it to both indexes and upsert one rollup period; compaction ops
  * compact both indexes and the monthly table. The stream (`gen.py`)
  * sets the mix and the cadence.
  */
final class Serve(spark: SparkSession, dataDir: String, workDir: String,
                  var tracer: Tracer) {
  private val monthlyPath = s"$workDir/serve/rollup_monthly"
  private val dailyPath = s"$workDir/serve/rollup_daily"
  val minhashTable = "pb_minhash_index"
  val bm25Table = "pb_bm25_index"
  private val Bands = 8

  private var indexedDocs = 0L
  private val ingestedPaths = mutable.ArrayBuffer.empty[String]
  val samples = mutable.ArrayBuffer.empty[OpSample]
  val ingestedTextBytes = mutable.ArrayBuffer.empty[Long]

  private def series: DataFrame =
    Rollups.series(Tables.orders(spark, dataDir), "o_custkey", "o_orderdate", "o_totalprice")

  /** The set-up writes and index builds; safe to repeat (each rewrites
    * its table from the inputs). Returns each step's seconds. */
  def setUp(): Seq[(String, Double)] = {
    def step(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime(); body; name -> (System.nanoTime() - t0) / 1e9
    }
    val docs = Tables.documents(spark, dataDir)
    val steps = Seq(
      step("rollup_monthly")(Sinks.writePartitionedClustered(
        Rollups.monthly(series), monthlyPath, Seq("period_key"))),
      step("rollup_daily")(Sinks.writePartitionedClustered(
        Rollups.daily(series).withColumn("period_month", substring(col("period_key"), 1, 7)),
        dailyPath, Seq("period_month"))),
      step("minhash_index") {
        spark.sql(s"DROP TABLE IF EXISTS $minhashTable")
        Dedup.writeMinhashIndex(docs, minhashTable)
      },
      step("bm25_index") {
        spark.sql(s"DROP TABLE IF EXISTS $bm25Table")
        Corpus.writeBm25Index(docs, bm25Table)
      })
    indexedDocs = docs.count()
    ingestedPaths.clear()
    steps
  }

  private def corpus: DataFrame =
    spark.read.parquet((s"$dataDir/documents.parquet" +: ingestedPaths.toSeq): _*)

  private def timed(seq: Int, kind: String)(body: => (Boolean, String, Long)): Unit = {
    val group = s"op-$seq-$kind"
    if (tracer.on) spark.sparkContext.setJobGroup(group, kind)
    val t0 = System.nanoTime()
    val (ok, err, rows) =
      try tracer.span(kind, "op", group)(body)
      catch { case e: Throwable =>
        (false, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", 0L) }
      finally if (tracer.on) spark.sparkContext.clearJobGroup()
    samples += OpSample(seq, kind, group, (System.nanoTime() - t0) / 1e6, ok, err, rows)
  }

  private def build[T](group: String)(body: => T): T = tracer.span("build", "build", group)(body)
  private def action[T](group: String)(body: => T): T = tracer.span("action", "action", group)(body)

  /** A lookup's DataFrame, built by the public query function it serves. */
  def lookupFrame(op: Map[String, Any]): DataFrame = {
    def s(k: String) = op(k).toString
    def entity = op("entity").toString.toLong
    op("op") match {
      case "point" =>
        ApiSurface.dataPoint(Sinks.readPartitioned(spark, monthlyPath), entity, s("period"))
      case "range" =>
        ApiSurface.dataRange(Sinks.readPartitioned(spark, monthlyPath), entity, s("start"), s("end"))
      case "period_keys" =>
        val path = if (s("grain") == "day") dailyPath else monthlyPath
        ApiSurface.periodKeys(Sinks.readPartitioned(spark, path), entity)
      case "search" => ApiSurface.search(Tables.documents(spark, dataDir), s("needle"))
      case "report_list" =>
        ApiSurface.reportList(Tables.customer(spark, dataDir), s("needle"),
          op("page").toString.toInt, op("limit").toString.toInt)
      case "bm25_probe" => Corpus.bm25FromIndex(spark, bm25Table, s("query"), 10)
    }
  }

  def lookup(seq: Int, op: Map[String, Any]): Unit = {
    val kind = op("op").toString
    val group = s"op-$seq-$kind"
    timed(seq, kind) {
      val df = build(group)(lookupFrame(op))
      val rows = action(group)(df.collect())
      // every point lookup names an (entity, month) the set-up wrote
      if (kind == "point" && rows.length != 1)
        (false, s"point lookup returned ${rows.length} rows", rows.length.toLong)
      else (true, "", rows.length.toLong)
    }
  }

  private def indexCounts(): (Long, Long, Long) = {
    val mh = spark.table(minhashTable).count()
    val bm = spark.table(bm25Table)
    val bmRows = bm.count()
    val bmDocs = bm.select("doc_id").distinct().count()
    (mh, bmRows, bmDocs)
  }

  private def bm25N(): Long =
    spark.sql(s"SHOW TBLPROPERTIES $bm25Table").collect()
      .collectFirst { case r if r.getString(0) == "graft.bm25.n" => r.getString(1).toLong }
      .getOrElse(-1L)

  /** Index row counts reconcile with the documents indexed: 8 band rows
    * per document in the MinHash index, one posting set and one counted
    * document per document in the BM25 index. */
  def reconcile(): Option[String] = {
    val (mh, _, bmDocs) = indexCounts()
    val n = bm25N()
    if (mh != Bands * indexedDocs) Some(s"minhash rows $mh != $Bands x $indexedDocs docs")
    else if (bmDocs != indexedDocs) Some(s"bm25 docs $bmDocs != $indexedDocs")
    else if (n != indexedDocs) Some(s"bm25 N $n != $indexedDocs")
    else None
  }

  def ingest(seq: Int, op: Map[String, Any]): Unit = {
    val b = op("batch").toString.toInt
    val path = f"$dataDir/batches/batch_$b%04d.parquet"
    val batch = spark.read.parquet(path)
    val nDocs = op("docs").toString.toLong
    // Jackson's Scala module reads JSON arrays as Scala lists
    val planted = op("planted").asInstanceOf[Seq[Seq[Any]]]
      .map(p => (p(0).toString.toLong, p(1).toString.toLong))
    ingestedTextBytes += op("text_bytes").toString.toLong

    timed(seq, "novelty_check") {
      val g = s"op-$seq-novelty_check"
      val df = build(g)(Dedup.minhashLshAgainstIndex(spark, minhashTable, batch, corpus))
      val pairs = action(g)(df.collect()).map(r => (r.getLong(0), r.getLong(1))).toSet
      val missed = planted.filterNot(pairs)
      if (missed.nonEmpty) (false, s"novelty check missed planted ${missed.mkString(",")}", pairs.size.toLong)
      else (true, "", pairs.size.toLong)
    }
    timed(seq, "append") {
      val g = s"op-$seq-append"
      build(g) {
        Dedup.appendToMinhashIndex(batch, minhashTable)
        Corpus.appendToBm25Index(batch, bm25Table)
      }
      (true, "", nDocs)
    }
    indexedDocs += nDocs
    ingestedPaths += path
    timed(seq, "upsert") {
      val g = s"op-$seq-upsert"
      val period = op("period").toString
      val df = build(g)(Rollups.monthly(series.filter(
        date_format(col("ts"), "yyyy-MM") === period)))
      action(g)(Sinks.upsertPartitions(df, monthlyPath, Seq("period_key")))
      (true, "", 0L)
    }
  }

  /** Compaction must keep every live row: counts before and after agree
    * and still reconcile with the documents indexed. The checks run
    * outside the timed op; a failed check marks the op failed. */
  private def compact(seq: Int): Unit = {
    val before = indexCounts()
    timed(seq, "compact") {
      build(s"op-$seq-compact") {
        Dedup.compactMinhashIndex(spark, minhashTable)
        Corpus.compactBm25Index(spark, bm25Table)
        Sinks.compact(spark, monthlyPath, Seq("period_key"))
      }
      (true, "", 0L)
    }
    val after = indexCounts()
    val err =
      if (after != before) Some(s"compaction changed index counts $before -> $after")
      else reconcile()
    err.foreach(e => samples(samples.size - 1) = samples.last.copy(ok = false, error = e))
  }

  def run(seq: Int, op: Map[String, Any]): Unit = op("op") match {
    case "ingest" => ingest(seq, op)
    case "compact" => compact(seq)
    case _ => lookup(seq, op)
  }

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) files(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil)

  /** Data files and their bytes under each serve table. */
  def tableFiles(): Map[String, (Int, Long)] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Map("rollup_monthly" -> new File(monthlyPath), "rollup_daily" -> new File(dailyPath),
      minhashTable -> new File(wh, minhashTable), bm25Table -> new File(wh, bm25Table))
      .map { case (k, d) => val fs = files(d); k -> (fs.size, fs.map(_.length).sum) }
  }
}
