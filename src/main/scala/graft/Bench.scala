package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** warm-ups + timed reps for one query; returns (median, min, noise, err). */
  private def timeOne(spark: SparkSession, sfDir: String,
                      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                      warmups: Int, reps: Int)
  : (Double, Double, Double, Option[String], Seq[Double]) = {
    var err: Option[String] = None
    (1 to warmups).foreach { _ =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    val samples = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        if (err.isEmpty) err =
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}") }
      (System.nanoTime() - t0) / 1e9
    }.sorted
    (samples(reps / 2), samples.head,
      if (samples.head > 0) samples.last / samples.head else 1.0, err, samples)
  }

  /** Previous round's per-key medians, for the cross-round regression
    * trigger: read from the latest committed BENCH_FULL_r*.json (the
    * per-round snapshot of BENCH_LATEST.json — the round artifact
    * BENCH_rN.json keeps only a truncated stdout tail, so the full map
    * must be committed separately to survive). Parsing is a targeted
    * regex over the flat `"queries":{"k":1.23,...}` object — the file
    * is machine-written one-line JSON with only string keys and plain
    * numbers inside that object, so a JSON library adds nothing.
    */
  private def prevMedians(): Map[String, Double] = {
    val cwd = new java.io.File(".")
    val cands = Option(cwd.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.matches("BENCH_FULL_r\\d+\\.json"))
    if (cands.isEmpty) Map.empty
    else {
      try {
        val latest = cands.maxBy(_.getName)
        val src = scala.io.Source.fromFile(latest)
        val text = try src.mkString finally src.close()
        val qobj = "\"queries\":\\{([^}]*)\\}".r
          .findFirstMatchIn(text).map(_.group(1)).getOrElse("")
        "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(qobj)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    var spark = GraftSession.local(cpus)
    // optional arg: comma-separated subset of query names (targeted
    // perf iteration; the driver runs the full surface with no args)
    val subset: Set[String] =
      if (args.nonEmpty && args(0).nonEmpty) args(0).split(",").toSet else Set.empty
    // Warm-up at the smallest SF: JIT-compiles every operator's code
    // paths (codegen, parquet reader, shuffle) so the timed pass below
    // measures steady-state throughput, not first-call compilation.
    // Subset runs warm only their subset (the scaling audit runs three
    // back-to-back sessions; warming 294 keys to time 30 triples cost).
    // warmDir derives from sfDir's parent (round-12 advice: a subset
    // run pointed at different testdata silently skipped warmup when
    // this was hard-coded); env-overridable for exotic layouts.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      new java.io.File(
        new java.io.File(sfDir).getAbsoluteFile.getParentFile,
        "sf0.001").toString)
    if (new java.io.File(warmDir).isDirectory) {
      SparkEntry.queries.foreach { case (name, fn) =>
        if (subset.isEmpty || subset(name))
          try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    }
    // PRE-BUILD phase (round-10 interference bisect): every persisted
    // artifact — bar tables, band/cluster/containment/BM25 indexes,
    // partials, co-bucketed facts, tmpdir IVF indexes, stream-grown
    // tables — is built ONCE here, at the target SF, before any timed
    // rep. Previously each build landed inside its key's warm-ups at
    // that key's alphabetical slot, and the catalog-table writes left
    // session/warehouse state whose deferred costs (cleaner drains,
    // file-system flushes, page-cache eviction) hit whichever keys ran
    // NEXT — the r9/r10 full-run inflation on the r/s stretch
    // (rsi_wilder 4.75 s in situ vs 0.60 isolated) sat right after the
    // rollup_/rsi_ index builds. Builds are ingest-time work; no query
    // should ever pay them. A key's function runs its artifact builders
    // eagerly while it builds the DataFrame (SparkEntry's two guards),
    // so building every key's DataFrame with no action pre-builds
    // exactly the keys that have artifacts, and every key alike.
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, fn) =>
      if (subset.isEmpty || subset(k))
        try fn(spark, sfDir) catch { case _: Throwable => () }
    }
    System.gc()
    // a failed query must be visible in the output, not benched as
    // "fast": its error is listed in the separate "errors" object; the
    // per-query timings stay non-negative so their semantics are
    // stable across rounds.
    //
    // Each query runs 3× and reports the MEDIAN: a shared host under
    // contention inflates single-shot wall time 10-80× (observed in
    // three consecutive driver rounds), and one noisy sample out of
    // three cannot move a median. The per-query max/min ratio is
    // published as "noise" so a contended run is visible as high
    // noise rather than a fake regression.
    val reps = 3
    // Every query gets 2 DISCARDED warm-up reps at the TARGET sf before
    // its timed reps (not just the sf0.001 JIT pass above): round-6
    // numbers showed a one-directional 2-4× drift on a cluster of
    // documents-side queries whose code had not changed — first-touch
    // effects (page cache, codegen cache eviction) land on rep 1 and a
    // median of 3 cannot absorb two cold samples.
    val warmups = 2
    var sinceGc = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .map { case (name, fn) =>
        // untimed GC every 4 queries: drives the ContextCleaner (dead
        // shuffle files / broadcasts from the PREVIOUS queries) at a
        // steady cadence so the collection cost never lands inside a
        // later query's timed rep as one accumulated pause. Every 4,
        // not 16: with the periodic cleaner GC stretched to 30min this
        // explicit call is the ONLY steady drain, and a 4-key cadence
        // keeps each collection small enough (~100 ms) that the total
        // untimed cost stays under a minute across the full surface.
        sinceGc += 1
        if (sinceGc >= 4) { sinceGc = 0; System.gc() }
        val (median, min, noise, err, _) = timeOne(spark, sfDir, fn, warmups, reps)
        (name, median, min, noise, err)
      }

    // Isolated re-measurement: keys whose full-run figures look like
    // harness interference are re-run in a FRESH session at the end,
    // and the isolated MINS published in-artifact so a reader can
    // separate plan cost from session state. Triggers (round-10
    // verdict widened the first-only rule after vwap_monthly shipped a
    // phantom 2.4× regression at noise 1.61):
    //  (a) in-run noise (max/min across reps) > 2.0 — one rep landed
    //      on contention;
    //  (b) med/min > 1.5 — the median itself is inflated while the
    //      best rep is clean (uniform inflation escapes (a));
    //  (c) cross-round: median > 1.5× the previous round's committed
    //      median for the same key (BENCH_FULL_r*.json) — the reader's
    //      actual regression question, asked directly.
    // Cap at 24 keys by severity: if more than that trip, the whole
    // run was contended and per-key adjudication is meaningless.
    // The scaling audit (scripts/scaling_audit.py) times the same keys
    // at 10× data, where every key legitimately exceeds the committed
    // medians — the cross-round trigger would spawn 24 meaningless
    // isolated re-runs per audit session. The audit opts out wholesale.
    val noIsolate = sys.env.contains("SPARK_GRAFT_NO_ISOLATE")
    val prev = prevMedians()
    val suspectsAll = results
      .filter { case (_, _, _, _, err) => err.isEmpty }
      .flatMap { case (name, med, min, noise, _) =>
        val medMin = if (min > 0) med / min else 1.0
        val cross = prev.get(name).filter(_ > 0).map(med / _).getOrElse(1.0)
        if (noise > 2.0 || medMin > 1.5 || cross > 1.5)
          Some(name -> math.max(noise, math.max(medMin, cross)))
        else None
      }
      .sortBy(-_._2).take(24).map(_._1)
    val suspects = if (noIsolate) Seq.empty[String] else suspectsAll
    // per-suspect fresh-session rep spread (JSON arrays, keyed like
    // `isolated`) — published so min-vs-typical is adjudicable
    var isolatedReps: Map[String, String] = Map.empty
    val (isolated: Map[String, Double], isolatedErrs: Map[String, String]) =
      if (suspects.isEmpty) (Map.empty[String, Double], Map.empty[String, String])
      else {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        System.gc()
        spark = GraftSession.local(cpus)
        val byName = SparkEntry.queries
        // Per-suspect warm THEN time, interleaved — not all-warm-then-
        // all-time: with up to 24 suspects, the other 23 keys' target-sf
        // warm passes (artifact rebuilds, corpus scans) land BETWEEN a
        // key's warmup and its timed reps, evicting exactly the page-
        // cache/codegen state the warmup established — the r13
        // driver-run signature (pacf_lags 9.14 s isolated vs 0.89 s
        // committed min, three rounds running). Each suspect runs once
        // at the smallest SF (JIT/codegen), once at the TARGET sf
        // (artifact rebuild in the fresh empty catalog — the round-12
        // advice), both discarded, then times immediately.
        val runs = suspects.map { name =>
          if (new java.io.File(warmDir).isDirectory)
            try byName(name)(spark, warmDir).count()
            catch { case _: Throwable => () }
          try byName(name)(spark, sfDir).count()
          catch { case _: Throwable => () }
          System.gc()
          val (_, min, _, err, samples) =
            timeOne(spark, sfDir, byName(name), warmups, reps)
          (name, min, err, samples)
        }
        // Publish the isolated MIN, not the median: this map exists to
        // answer "is the plan itself clean in a fresh session" (it is
        // adjudicated against committed MINS), and in the driver's
        // shared environment a single contended rep out of 3 inflated
        // the published median three rounds in a row. The min is the
        // least-contended sample — the measurement the question needs.
        // The full rep spread publishes ALONGSIDE it (isolated_reps) so
        // an adjudicator can distinguish one contended rep from a
        // uniformly slower plan — a min alone could mask a regression
        // that shows in every typical rep.
        // A key that errors only in the fresh session must NOT publish
        // its time-to-exception as a clean isolated figure.
        isolatedReps = runs.collect { case (n, _, None, ss) =>
          n -> ss.map(s => f"$s%.3f").mkString("[", ",", "]")
        }.toMap
        (runs.collect { case (n, m, None, _) => n -> m }.toMap,
          runs.collect { case (n, _, Some(e), _) => n -> e }.toMap)
      }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    def jmap(m: Seq[(String, String)]): String =
      m.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val qs = jmap(results.map { case (k, v, _, _, _) => k -> v.toString })
    // per-query MIN alongside the median: min is the least-contended
    // sample (the closest this host gets to a clean measurement), so
    // median-vs-min separates real plan cost from scheduler noise
    val mins = jmap(results.map { case (k, _, m, _, _) => k -> m.toString })
    val ns = jmap(results.map { case (k, _, _, n, _) => k -> f"$n%.2f" })
    val errs = jmap(results.collect { case (k, _, _, _, Some(e)) => k -> jstr(e) })
    val iso = jmap(isolated.toSeq.sortBy(_._1).map { case (k, v) => k -> f"$v%.3f" })
    val isoReps = jmap(isolatedReps.toSeq.sortBy(_._1))
    val isoErrs = jmap(isolatedErrs.toSeq.sortBy(_._1).map { case (k, v) => k -> jstr(v) })
    val total = results.map { case (_, v, _, _, _) => v }.sum
    val nErrs = results.count(_._5.isDefined)
    val errKeysAll = results.collect { case (k, _, _, _, Some(_)) => k }
    val errKeys = errKeysAll.map(jstr).mkString("[", ",", "]")
    // the summary line must stay bounded: cap the error-key list at 20
    // (errors_count already carries the true total)
    val errKeysCapped = errKeysAll.take(20).map(jstr).mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","errors":$errs,"noise":$ns,"min":$mins,"isolated":$iso,"isolated_reps":$isoReps,"isolated_errors":$isoErrs,"queries":$qs,"errors_count":$nErrs,"error_keys":$errKeys}"""
    try {
      val w = new java.io.PrintWriter("BENCH_LATEST.json")
      try w.println(full) finally w.close()
    } catch { case _: Throwable => () }
    // Two stdout lines. The FULL record first (also written whole to
    // BENCH_LATEST.json). LAST, a compact summary bounded well under
    // 2000 chars: the driver's round artifact keeps only the final
    // 2000 chars of stdout and its `parsed` field had been null for
    // nine rounds because the full line never fit — so the line that
    // must parse is the one printed last. It carries the totals, the
    // first 20 error keys (+ the true count), the isolated
    // re-measurements, and the 12 slowest keys; the complete per-key
    // maps live one line up and in BENCH_LATEST.json.
    println(full)
    val slowest = jmap(results.sortBy { case (_, v, _, _, _) => -v }.take(12)
      .map { case (k, v, _, _, _) => k -> f"$v%.3f" })
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"errors_count":$nErrs,"error_keys":$errKeysCapped,"isolated":$iso,"isolated_errors":$isoErrs,"queries":$slowest,"full":"BENCH_LATEST.json"}"""
    println(summary)
    spark.stop()
  }
}
