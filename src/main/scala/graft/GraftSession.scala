package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's mains build a SparkSession. */
object GraftSession {

  /** A `local[cpus]` session. Beyond the query-plan configs (shuffle
    * partitions = cores, UTC session time zone, partition-discovery
    * threshold), the session carries the anti-interference settings
    * motivated by nine rounds of full-run-vs-isolated bench drift
    * (round-9 audit: five keys inflated 2-6× in situ with ≤1.3
    * isolated noise — accumulated session state, not host contention):
    *
    *  - `spark.cleaner.periodicGC.interval=30min`: shuffle files and
    *    broadcast blocks are only deleted when the DRIVER GCs the
    *    referencing objects. The steady drain comes from the bench's
    *    explicit untimed `System.gc()` between keys; the periodic GC is
    *    only the backstop (why not shorter: see the conf's comment).
    *  - retained jobs/stages/tasks/executions cut to a few hundred:
    *    the AppStatusStore trims asynchronously ON THE LISTENER BUS —
    *    with defaults (1000 jobs / 1000 stages / 100k tasks) the trim
    *    work grows with run length and lands in whichever query is
    *    executing when the threshold trips. Small bounds make the
    *    trim cost constant and negligible.
    *  - `spark.sql.codegen.cache.maxEntries=2000` (default 100): the
    *    ~360-key surface compiles far more than 100 codegen classes,
    *    so with the default every query evicts its predecessors and
    *    Janino recompiles on each revisit (repeated keys, spec
    *    suites). 2000 holds the whole surface.
    *
    * `getOrCreate`: called where a session already runs (a harness
    * calling `Verify.main`), it returns that session, and only the
    * runtime SQL confs above apply to it.
    */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // local mode: driver-side listing of a few hundred partition
      // dirs is microseconds; the default threshold (32) launches a
      // distributed file-listing JOB per partitioned-table read, a
      // fixed ~0.3 s tax that dwarfs the actual probe on persisted
      // index tables (cluster deployments want the default back)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      // If events.parquet ships the historical TIMESTAMP(NANOS) encoding,
      // surface it as a nanos long (graft.sources.Tables.events dispatches
      // on the actual type; this conf is a no-op for micros columns).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // 30min, NOT 1min: the cleaner only drains on driver GC, but a
      // 1-minute periodic FULL GC fires ~20 times across a 20-minute
      // timed pass and lands inside whichever rep is running — the
      // r12/r13 "roving inflation" signature (2-4x on a different key
      // set each round, every one clean when re-run isolated). The
      // steady drain now comes from the explicit untimed System.gc()
      // every 4 keys in the timed loop; this interval is only the
      // backstop for pathological single-key stretches.
      .config("spark.cleaner.periodicGC.interval", "30min")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
