package graft.tools

/** Measure the CASE-fan-out vs broadcast-join two-level assignment
  * forms across a GRID SWEEP — the empirical basis for
  * [[graft.operators.Similarity.caseFormMaxCells]], which had been an
  * asserted threshold. Each (grid, form) measurement rebuilds the
  * DataFrame per rep so the CASE plan's O(k·d) literal construction +
  * compile cost — the very thing the threshold trades against the join
  * form's interpreted per-row fold — is inside the timed window,
  * exactly as a fresh batch pass pays it. Value parity between the
  * forms is separately spec-asserted and cross-engine gated
  * (`ivf_assign_twolevel_join`); this probe is cost only.
  *
  * Usage: runMain graft.tools.AssignFormProbe <sfDir> [grids] [reps]
  * Prints one JSON line: {"n":…,"d":…,"grids":[{"grid":…,"cells":…,
  * "case_sec":…,"join_sec":…},…]}.
  */
object AssignFormProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val grids =
      if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(24, 48, 96, 192, 384, 576)
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus)
    val vecs = graft.sources.Tables.embeddings(spark, sfDir)
    val n = vecs.count()
    val rows = grids.map { g =>
      val books = graft.operators.Similarity.headTwoLevelBooksGrid(vecs, g)
      val cells = books.fine.count(_.nonEmpty)
      def time(maxCells: Int): Double = {
        def once(): Double = {
          val t0 = System.nanoTime()
          graft.operators.Similarity.twoLevelAssigned(
            vecs, books.coarse, books.fine, books.nFine, maxCells).count()
          (System.nanoTime() - t0) / 1e9
        }
        once() // one discarded warm rep (JIT; plan cache is per-frame,
               // so the timed reps below still pay fresh plan builds)
        (1 to reps).map(_ => once()).min
      }
      val caseSec = time(Int.MaxValue)
      val joinSec = time(0)
      f"""{"grid":$g,"cells":$cells,"case_sec":$caseSec%.3f,"join_sec":$joinSec%.3f}"""
    }
    println(s"""{"n":$n,"d":64,"grids":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
