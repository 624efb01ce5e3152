package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.TextAnalysis
import graft.plans.{HashExprs, ScanExprs, XmlExprs}
import graft.sources.Tables

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readLines(path: String): Seq[Map[String, Any]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map(l =>
      mapper.readValue(l, classOf[java.util.Map[String, Any]]).asScala.toMap)
}

/** The benchmark program. One invocation is one run of one workload in a
  * fresh JVM; it writes raw samples (and, traced, spans and listener
  * events) as JSON for `run.py` to turn into metrics.
  *
  * Arguments: --workload etl_batch|dedup_batch|serve_ingest --data DIR
  * --work DIR --trace 0|1 --out FILE, and for batch workloads --passes N
  * (timed passes over the keys) [--serve-data DIR], for serve_ingest
  * --warm-ops N --timed-ops N --traced-ops N, and for both
  * --section-ops N. Every count is fixed by the caller,
  * so a run always does the same work.
  */
object Harness {
  val EtlKeys: Seq[String] = Seq(
    "rollup_daily", "rollup_monthly", "rollup_yearly", "rollup_combined", "rollup_multi",
    "schema_normalize", "news_transform", "news_transform_bpe", "news_dedup", "kv_extract",
    "kv_extract_nested", "kv_extract_xml", "financial_metrics", "lang_id", "quality_score",
    "pii_scrub", "token_count", "ohlc_resample", "rsi_wilder")
  val DedupKeys: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_cluster", "dedup_containment", "dedup_simhash",
    "semantic_clusters", "ann_ivf_topk", "embed_pca_power", "bm25_topk",
    "doc_logprob_bigram", "knn_graph")

  /** serve_ingest's set-up writes and index builds are made this many
    * times; set-up time counts their median. */
  val SetupReps = 3

  private def secs(ns: Long): Double = ns / 1e9
  private def ms(ns: Long): Double = ns / 1e6

  private def err(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final case class KeySample(key: String, pass: Int, buildMs: Double, actionMs: Double,
                             ok: Boolean, error: String)

  /** One key rep: the query function builds the DataFrame, the noop sink
    * materializes every row and column of it. */
  def runKey(spark: SparkSession, key: String, fn: (SparkSession, String) => DataFrame,
             data: String, pass: Int, tracer: Tracer): KeySample = {
    val group = s"key-$pass-$key"
    if (tracer.on) spark.sparkContext.setJobGroup(group, key)
    var buildNs = 0L
    val t0 = System.nanoTime()
    try {
      tracer.span(key, "op", group) {
        val df = tracer.span("build", "build", group)(fn(spark, data))
        buildNs = System.nanoTime() - t0
        // the write plans a new query over df's analyzed plan; df's own
        // analysis ran inside the build
        if (tracer.on) buildQueries += PlanListener.describePhases("build", df.queryExecution)
        tracer.span("action", "action", group)(
          df.write.format("noop").mode("overwrite").save())
      }
      KeySample(key, pass, ms(buildNs), ms(System.nanoTime() - t0 - buildNs), ok = true, "")
    } catch { case e: Throwable =>
      KeySample(key, pass, ms(buildNs), ms(System.nanoTime() - t0 - buildNs), ok = false, err(e))
    } finally if (tracer.on) spark.sparkContext.clearJobGroup()
  }

  /** Catalyst phases of the batch keys' DataFrames, traced runs only. */
  val buildQueries = mutable.ArrayBuffer.empty[Map[String, Any]]

  def runPass(spark: SparkSession, reg: Map[String, (SparkSession, String) => DataFrame],
              keys: Seq[String], data: String, pass: Int, tracer: Tracer): Seq[KeySample] =
    keys.map(k => runKey(spark, k, reg(k), data, pass, tracer))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-row cost of the compiled kernels and column functions: each is
    * materialized to noop over a cached input, median of three after one
    * warm rep. Reported as ns per input row, scan of the cached input
    * included (`baseline_docs` is that scan alone). */
  def kernelProbe(spark: SparkSession, data: String): Map[String, Any] = {
    // every input is replicated to about ProbeRows rows, so the fixed cost
    // of a query is a small part of each timing
    val ProbeRows = 8000L
    def grow(df: DataFrame, id: String): DataFrame = {
      val reps = math.max(1L, ProbeRows / df.count())
      df.crossJoin(spark.range(reps).toDF("r"))
        .withColumn(id, col(id) * reps + col("r")).drop("r")
    }
    val docs = grow(Tables.documents(spark, data), "doc_id")
      .withColumn("nt", TextAnalysis.normalizeWs(col("text"))).cache()
    val events = grow(Tables.events(spark, data), "event_id")
    val payloads = events.select(concat(lit("<r><type a=\"x\">"), col("event_type"),
      lit("</type><k>"), coalesce(get_json_object(col("props"), "$.k"), lit("")),
      lit("</k></r>")).as("payload")).cache()
    val series = grow(Tables.events(spark, data).groupBy("user_id")
      .agg(collect_list(col("value")).as("xs")), "user_id").cache()
    val vecs = grow(Tables.embeddings(spark, data), "vec_id").cache()
    val customer = grow(Tables.customer(spark, data), "c_custkey").cache()
    val inputs = Seq(docs, payloads, series, vecs, customer)
    val rows = inputs.map(_.count())
    val Seq(nDocs, nPay, nSeries, nVecs, nCust) = rows

    def cost(frame: => DataFrame, n: Long): Double = {
      def once(): Long = {
        val t0 = System.nanoTime()
        frame.write.format("noop").mode("overwrite").save()
        System.nanoTime() - t0
      }
      once()
      median(Seq.fill(3)(once().toDouble)) / n
    }
    val probes: Seq[(String, () => Double)] = Seq(
      "baseline_docs" -> (() => cost(docs.select(length(col("nt"))), nDocs)),
      "plans.minhash_text" -> (() => cost(docs.select(HashExprs.minhashText(col("nt"), 5, 64, word = false)), nDocs)),
      "plans.simhash64" -> (() => cost(docs.select(HashExprs.simhash64(split(col("nt"), " "))), nDocs)),
      "plans.word_ngrams" -> (() => cost(docs.select(HashExprs.wordNgrams(col("nt"), 3)), nDocs)),
      "plans.cosine_sim" -> (() => cost(vecs.select(HashExprs.cosineSim(col("embedding"), col("embedding"))), nVecs)),
      "plans.xml_leaf_map" -> (() => cost(payloads.select(XmlExprs.xmlLeafMap(col("payload"))), nPay)),
      "plans.array_scan" -> (() => cost(series.select(
        ScanExprs.arrayScan(col("xs"), lit(0.0))((acc, x) => acc * 0.9 + x)), nSeries)),
      "plans.repetition_stats" -> (() => cost(docs.select(HashExprs.repetitionStats(col("nt"))), nDocs)),
      "functions.normalize_ws" -> (() => cost(docs.select(TextAnalysis.normalizeWs(col("text"))), nDocs)),
      "functions.pii_scrub" -> (() => cost(TextAnalysis.piiScrub(customer), nCust)),
      "functions.lang_id" -> (() => cost(TextAnalysis.langId(docs), nDocs)))
    val out = probes.map { case (k, f) => k -> f() }.toMap
    inputs.foreach(_.unpersist(blocking = true))
    out ++ Map("rows" -> Map("docs" -> nDocs, "payloads" -> nPay, "series" -> nSeries,
      "vectors" -> nVecs, "customer" -> nCust))
  }

  private def facts(spark: SparkSession, cpus: Int): Map[String, Any] = Map(
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "jvm" -> System.getProperty("java.vm.name"),
    "scala_version" -> scala.util.Properties.versionNumberString,
    "cores" -> cpus,
    "master" -> spark.sparkContext.master)

  private def jvmStats(): Map[String, Any] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    Map("gc_ms" -> gcMs, "peak_rss_kb" -> hwmKb)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val traced = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("workload") = workload
    out("trace") = traced
    out("jvm_start_ms") = jvmStartMs

    var spark = session(cpus, work)
    val sessionReadyMs = System.currentTimeMillis()
    out("facts") = facts(spark, cpus)
    out("session_s") = (sessionReadyMs - jvmStartMs) / 1e3

    // SparkEntry.queries is rebuilt on every access; time its evaluation
    // (the first one loads the registry's classes)
    val regNs = (1 to (if (traced) 5 else 1)).map { _ =>
      val t0 = System.nanoTime(); SparkEntry.queries; System.nanoTime() - t0 }
    out("registry_eval_ms") = regNs.map(ms)
    val reg = SparkEntry.queries

    val noTrace = new Tracer(false)
    val batchKeys = workload match {
      case "etl_batch" => EtlKeys
      case "dedup_batch" => DedupKeys
      case _ => Nil
    }

    if (batchKeys.nonEmpty) {
      val keys = batchKeys
      // The first pass over the keys is the correctness dump and the JIT
      // warm-up: graft.Verify writes each key's result and the oracle SQL
      // for scripts/verify_local.py, then stops the session. The first
      // timed pass is still slower than the later ones; the per-key
      // median over three passes leaves it out.
      val v0 = System.nanoTime()
      graft.Verify.main(Array(data, s"$work/verify", keys.mkString(",")))
      sys.props.remove("graft.oracle.gate")
      out("verify_pass_s") = secs(System.nanoTime() - v0)
      spark = session(cpus, work)
      out("setup_reps_s") = Seq.empty[Double]
      out("first_timed_op_ms") = System.currentTimeMillis()
      val samples = mutable.ArrayBuffer.empty[KeySample]
      if (!traced) {
        val t0 = System.nanoTime()
        (1 to opt("passes").toInt).foreach(p => samples ++= runPass(spark, reg, keys, data, p, noTrace))
        out("measured_s") = secs(System.nanoTime() - t0)
      } else {
        var section = Map.empty[String, Any]
        var p = 0
        out("overhead") = overhead { traceIt =>
          p += 1
          val t0 = System.nanoTime()
          if (!traceIt) samples ++= runPass(spark, reg, keys, data, p, noTrace)
          else section = traceSection(spark) { tracer =>
            samples ++= runPass(spark, reg, keys, data, p, tracer)
            Map("queries_build" -> buildQueries.toSeq)
          }
          secs(System.nanoTime() - t0)
        }
        out("sections") = Seq(section)
        out("count_bridge") = phase("count_bridge") {
          keys.map { k =>
            reg(k)(spark, data).count() // plans and compiles the count form
            val t0 = System.nanoTime(); reg(k)(spark, data).count(); k -> secs(System.nanoTime() - t0)
          }.toMap
        }
        out("kernels") = phase("kernels")(kernelProbe(spark, data))
        out("serve_section") = phase("serve_section")(serveSection(spark, opt("serve-data"), work, opt))
        out("trace_phases_s") = phases
      }
      out("key_samples") = samples.toSeq.map(s => Map("key" -> s.key, "pass" -> s.pass,
        "build_ms" -> s.buildMs, "action_ms" -> s.actionMs, "ok" -> s.ok, "error" -> s.error))
      out("jvm") = jvmStats()
      write(opt("out"), out)
      spark.stop()
    } else {
      val ops = Json.readLines(s"$data/stream.jsonl")
      val serve = new Serve(spark, data, work, noTrace)
      val steps = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
      val setup = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime(); steps += serve.setUp(); secs(System.nanoTime() - t0)
      }
      out("setup_reps_s") = setup
      out("setup_steps_s") = steps.toSeq.map(_.toMap)
      val warm = opt("warm-ops").toInt
      ops.take(warm).zipWithIndex.foreach { case (op, i) => serve.run(i, op) }
      val warmSamples = serve.samples.size
      out("first_timed_op_ms") = System.currentTimeMillis()
      if (!traced) {
        val n = opt("timed-ops").toInt
        require(warm + n <= ops.size, "request stream shorter than the run's ops")
        val t0 = System.nanoTime()
        ops.slice(warm, warm + n).zipWithIndex.foreach { case (op, i) => serve.run(warm + i, op) }
        out("measured_s") = secs(System.nanoTime() - t0)
        val end = serve.reconcile()
        out("final_reconcile") = end.getOrElse("")
      } else {
        val n = opt("traced-ops").toInt
        val sec = phase("traced_ops")(tracedServe(spark, serve, ops.slice(warm, warm + n), warm))
        // tracing overhead, on replayed lookups
        val replay = ops.drop(warm + n).filterNot(o => Set("ingest", "compact")(o("op").toString))
          .take(14)
        out("overhead") = phase("overhead") {
          overhead { traceIt =>
            def lookups(t: Tracer): Unit = {
              val s = new Serve(spark, data, work, t)
              replay.zipWithIndex.foreach { case (op, i) => s.lookup(100000 + i, op) }
            }
            val t0 = System.nanoTime()
            if (traceIt) traceSection(spark)(t => { lookups(t); Map.empty }) else lookups(noTrace)
            secs(System.nanoTime() - t0)
          }
        }
        out("sections") = Seq(sec)
        out("count_bridge") = phase("count_bridge") {
          replay.zipWithIndex.map { case (op, i) =>
            val t0 = System.nanoTime(); serve.lookupFrame(op).count()
            s"${op("op")}-$i" -> secs(System.nanoTime() - t0)
          }.toMap
        }
        out("kernels") = phase("kernels")(kernelProbe(spark, data))
        out("trace_phases_s") = phases
      }
      out("serve_samples") = samplesJson(serve, warmSamples)
      out("table_files") = serve.tableFiles()
      out("jvm") = jvmStats()
      write(opt("out"), out)
      spark.stop()
    }
  }

  private def samplesJson(serve: Serve, warm: Int): Seq[Map[String, Any]] =
    serve.samples.toSeq.zipWithIndex.map { case (s, i) => Map("seq" -> s.seq, "kind" -> s.kind,
      "ms" -> s.ms, "ok" -> s.ok, "error" -> s.error, "rows" -> s.rows, "warm" -> (i < warm)) }

  /** The serve ops of a traced section: spans, listener events and
    * the serve tables' files before and after. */
  private def tracedServe(spark: SparkSession, serve: Serve, ops: Seq[Map[String, Any]],
                          first: Int): Map[String, Any] = {
    val files0 = serve.tableFiles()
    val text0 = serve.ingestedTextBytes.sum
    val n0 = serve.samples.size
    traceSection(spark) { tracer =>
      serve.tracer = tracer
      ops.zipWithIndex.foreach { case (op, i) => serve.run(first + i, op) }
      serve.tracer = new Tracer(false)
      Map("first_sample" -> n0, "files_before" -> files0, "files_after" -> serve.tableFiles(),
        "text_bytes_before" -> text0, "text_bytes_after" -> serve.ingestedTextBytes.sum)
    }
  }

  /** Runs `body` with the listeners installed and a recording tracer;
    * returns the section: its wall, spans, listener events and JVM GC,
    * plus what `body` returns. */
  private def traceSection(spark: SparkSession)(body: Tracer => Map[String, Any])
  : Map[String, Any] = {
    val tracer = new Tracer(true)
    val tracing = new Tracing(spark)
    tracing.start()
    val jvm0 = jvmStats()
    val w0 = Clock.now()
    val extra = body(tracer)
    val w1 = Clock.now()
    val jvm1 = jvmStats()
    tracing.stop()
    spark.sparkContext.clearJobGroup()
    Map("start_ns" -> w0, "end_ns" -> w1, "spans" -> tracer.toJson,
      "jvm_before" -> jvm0, "jvm_after" -> jvm1) ++ tracing.toJson ++ extra
  }

  /** Tracing overhead: the same work untraced, traced, untraced, after a
    * discarded untraced warm rep. `run(traced)` returns its seconds. */
  private def overhead(run: Boolean => Double): Map[String, Any] = {
    run(false)
    val u1 = run(false)
    val t = run(true)
    val u2 = run(false)
    Map("untraced_s" -> Seq(u1, u2), "traced_s" -> t)
  }

  private val phases = mutable.LinkedHashMap.empty[String, Double]

  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = secs(System.nanoTime() - t0)
  }

  /** The serve segment of a traced batch run: set-up, warm-up, then
    * traced ops, so the sources and serve layers are measured on every
    * workload. */
  private def serveSection(spark: SparkSession, data: String, work: String,
                           opt: Map[String, String]): Map[String, Any] = {
    val ops = Json.readLines(s"$data/stream.jsonl")
    val serve = new Serve(spark, data, s"$work/serve_section", new Tracer(false))
    serve.setUp()
    val warm = opt("warm-ops").toInt
    ops.take(warm).zipWithIndex.foreach { case (op, i) => serve.run(i, op) }
    val nWarm = serve.samples.size
    val n = opt("section-ops").toInt
    val sec = tracedServe(spark, serve, ops.slice(warm, warm + n), warm)
    sec ++ Map("serve_samples" -> samplesJson(serve, nWarm))
  }

  private def write(path: String, out: mutable.LinkedHashMap[String, Any]): Unit =
    Files.writeString(Paths.get(path), Json.mapper.writeValueAsString(out))
}
