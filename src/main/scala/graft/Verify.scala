package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // this run's outputs WILL be DuckDB-compared: arm the gate-only
    // geometry assertions (e.g. the embed band-width domain pin)
    sys.props("graft.oracle.gate") = "true"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // getOrCreate: called inside a running session (a harness), this
    // returns that session; it is stopped at the end either way
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // optional 3rd arg: comma-separated subset of query names
    val subset: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (subset.isEmpty || subset(name)) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
        } catch { case e: Throwable =>
          errors(name) =
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Coverage + error artifacts: a query that ERRORS must be loudly
    // visible, not silently absent from the compare (round 5 shipped 12
    // broken queries because erroring keys simply vanished from the
    // gate). verify_local.py cross-checks registered_queries.json
    // against the produced outputs and prints verify_errors.json.
    // Only the ATTEMPTED keys: a subset run must not make verify_local
    // report every non-subset query as missing (the full registry is
    // recoverable from SparkEntry.queries; this artifact scopes the
    // coverage check to what this invocation actually produced).
    val attempted = SparkEntry.queries.keys.toSeq.sorted
      .filter(k => subset.isEmpty || subset(k))
    Files.writeString(Paths.get(s"$outDir/registered_queries.json"),
      attempted.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // Loud on stderr but exit 0: the driver invokes this main and then
    // runs its own DuckDB compare over whatever outputs exist — a
    // non-zero exit here could abort that compare and zero the round.
    // The hard non-zero gate lives in scripts/verify_local.py.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} QUERIES ERRORED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
