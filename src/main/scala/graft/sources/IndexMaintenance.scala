package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE-ON-READ deletion for every persisted index twin — one
  * mechanism shared by the minhash band index, the containment token
  * index, the cluster assignment, the BM25 postings, and any future
  * doc_id-keyed index table.
  *
  * A takedown (right-to-be-forgotten, licensing retraction, abuse
  * removal) must cost what it touches: rewriting the band/posting
  * files that contain the ids would rewrite an O(corpus) table for an
  * O(batch) request. Instead the deleted ids append to a `_tombstones`
  * side table; probes anti-join it (a kilobyte broadcast that
  * PRESERVES the streamed side's bucket partitioning, so the
  * zero-exchange plans the indexes were built for survive deletion);
  * and [[compact]] folds tombstones into fresh files out of band —
  * the Delta/Iceberg/Lucene deleted-docs strategy on plain bucketed
  * parquet. Deletes are idempotent: duplicate tombstone rows are
  * inert under the anti-join and cleared by compaction.
  */
object IndexMaintenance {

  def tombstoneTable(table: String): String = s"${table}_tombstones"

  /** Tombstone `ids` (a frame carrying `idCol`) against `table`.
    * O(batch): one append of the distinct ids.
    */
  def tombstone(spark: SparkSession, table: String, ids: DataFrame,
                idCol: String = "doc_id"): Unit =
    ids.select(col(idCol)).distinct()
      .write.mode("append").format("parquet")
      .saveAsTable(tombstoneTable(table))

  /** The index rows still live after deletions — every probe path
    * reads the index through this. No tombstones → the bare table
    * (zero overhead).
    */
  def liveRows(spark: SparkSession, table: String,
               idCol: String = "doc_id"): DataFrame = {
    val t = spark.table(table)
    if (spark.catalog.tableExists(tombstoneTable(table)))
      t.join(broadcast(spark.table(tombstoneTable(table)).select(idCol)),
        Seq(idCol), "left_anti")
    else t
  }

  def appliedBatchTable(table: String): String = s"${table}_applied_batches"

  /** Batch-id idempotence for STREAMING index maintenance: run `apply`
    * only if `(streamId, batchId)` has not been applied to `table`
    * yet, then record it. foreachBatch delivery is at-least-once — a
    * crash before the checkpoint commit redelivers the SAME batch id
    * on restart — and an index APPEND is not naturally idempotent the
    * way the tombstone/upsert sinks are (a double-append duplicates
    * band rows and inflates every candidate join). This side table
    * turns redelivery into a no-op. `streamId` scopes the ids (batch
    * ids restart at 0 for every new query): callers pass a stable
    * logical-stream name — the checkpoint path is the natural one.
    *
    * Returns true iff `apply` ran. The mark lands AFTER the append — a
    * crash between the two re-runs the batch (at-least-once on the
    * apply itself), so this plain guard is now reserved for
    * READ-MODIFY-WRITE maintenance whose replay is already neutralized
    * internally (the cluster upserts: staged commit + per-row
    * anti-join). APPEND-shaped maintenance takes the EXACTLY-ONCE
    * staged variants instead — [[applyBatchOnceStagedAt]] for
    * path-based indexes, [[applyBatchOnceStagedTable]] for the
    * catalog-table families — which close the window without a table
    * format.
    */
  def applyBatchOnce(spark: SparkSession, table: String, streamId: String,
                     batchId: Long)(apply: => Unit): Boolean =
    withTableWriterLease(spark, table) {
      val done = batchMarked(spark, table, streamId, batchId)
      if (!done) {
        apply
        markBatch(spark, table, streamId, batchId)
      }
      !done
    }

  private def batchMarked(spark: SparkSession, table: String,
                          streamId: String, batchId: Long): Boolean = {
    val t = appliedBatchTable(table)
    spark.catalog.tableExists(t) &&
      spark.table(t)
        .filter(col("stream_id") === streamId && col("batch_id") === batchId)
        .head(1).nonEmpty
  }

  private def markBatch(spark: SparkSession, table: String,
                        streamId: String, batchId: Long): Unit = {
    import spark.implicits._
    Seq((streamId, batchId)).toDF("stream_id", "batch_id")
      .write.mode("append").format("parquet")
      .saveAsTable(appliedBatchTable(table))
  }

  /** A managed table's data directory (DESCRIBE EXTENDED — the public
    * spelling; the catalyst catalog handle is private to sql).
    */
  private def tableLocation(spark: SparkSession, table: String): String =
    spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .find(_.getString(0) == "Location")
      .getOrElse(sys.error(s"no Location for table $table"))
      .getString(1)

  /** EXACTLY-ONCE staged append for a CATALOG-TABLE index —
    * [[applyBatchOnceStagedAt]]'s protocol carried over to the five
    * bucketed-table families (minhash bands, containment tokens, BM25
    * postings, embed bands, media phash), closing the append→mark
    * at-least-once window [[applyBatchOnce]] documents. The plain
    * guard's residual hazard: a crash between the bucketed append and
    * the batch-id mark replays the WHOLE append — duplicated band rows
    * inflate every candidate join, and BM25's additive (N, Σdl) restamp
    * silently skews every later score. Here the batch becomes
    * idempotent-or-atomic steps:
    *
    *  1. STAGE: `stage` computes the batch's index rows (and, for
    *     stats-stamped families, the ABSOLUTE post-fold `graft.*`
    *     property snapshot — absolute, not a delta, so re-applying it
    *     is a no-op). The rows write to a staging TABLE through the
    *     SAME (bucketCols, numBuckets) writer as the live table, so
    *     every staged part file carries the live layout's bucket id in
    *     its name. A crash here leaves an uncommitted staging table;
    *     replay drops and re-stages.
    *  2. COMMIT: the (stream_id, batch_id, props) payload lands behind
    *     one atomic rename — the transaction boundary.
    *  3. FOLD + MARK: each staged part file moves into the live
    *     table's directory by individual atomic rename (bucket-id
    *     filenames carry over — both tables were written by the same
    *     bucketed writer under the same spec, so the files ARE
    *     bucket-compatible; part names carry job UUIDs, so they never
    *     collide and a replayed fold resumes exactly the missing
    *     files), then the props snapshot applies (idempotent), then
    *     the batch-id mark lands, then the staging artifacts drop.
    *
    * Returns true iff the batch's data was (newly) applied. Single
    * writer per table (every maintenance op's contract — foreachBatch
    * serializes batches); assumes a durable catalog (a Hive metastore
    * in production — the same assumption every saveAsTable op here
    * makes). On a lakehouse table format this whole dance is one
    * transactional commit; plain parquet catalogs need the staged
    * spelling.
    */
  def applyBatchOnceStagedTable(spark: SparkSession, table: String,
                                streamId: String, batchId: Long,
                                bucketCols: Seq[String], numBuckets: Int)(
      stage: => (DataFrame, Map[String, String])): Boolean =
      withTableWriterLease(spark, table) {
    val stagingTable = s"${table}_staged_append"
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val commitDir = s"${wh.stripSuffix("/")}/${table}_staged_commit"
    val commitTmp = s"$commitDir.tmp"
    val f = fsFor(spark, commitDir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def cleanup(): Unit = {
      f.delete(p(commitDir), true)
      f.delete(p(commitTmp), true)
      spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
      ()
    }
    if (batchMarked(spark, table, streamId, batchId)) {
      // fully applied (a crash may have landed between mark and
      // cleanup) — make replay free of leftovers and report no-op
      cleanup()
      return false
    }
    val committedForThis = f.exists(p(commitDir)) && {
      val id = Tables.parquet(spark, s"$commitDir/id").head()
      val same = id.getAs[String]("stream_id") == streamId &&
        id.getAs[Long]("batch_id") == batchId
      if (!same) {
        // a PREDECESSOR's commit survived its post-mark cleanup — legal
        // only if that batch fully applied; anything else means a second
        // writer or corruption, and folding would double-apply
        require(batchMarked(spark, table, id.getAs[String]("stream_id"),
          id.getAs[Long]("batch_id")),
          s"unapplied staged commit for a different batch at $commitDir — " +
            "single-writer contract violated; refusing to fold")
        cleanup()
      }
      same
    }
    if (!committedForThis) {
      spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
      f.delete(p(commitTmp), true)
      val (rows, props) = stage
      Sinks.writeBucketed(rows, stagingTable, bucketCols, numBuckets)
      import spark.implicits._
      Seq((streamId, batchId)).toDF("stream_id", "batch_id")
        .coalesce(1).write.parquet(s"$commitTmp/id")
      props.toSeq.toDF("key", "value")
        .coalesce(1).write.parquet(s"$commitTmp/props")
      require(f.rename(p(commitTmp), p(commitDir)),
        s"staged-append commit rename failed: $commitDir")
    }
    foldInto(f, p(tableLocation(spark, stagingTable)),
      p(tableLocation(spark, table)))
    spark.catalog.refreshTable(table)
    val props = Tables.parquet(spark, s"$commitDir/props").collect()
      .map(r => r.getString(0) -> r.getString(1))
    if (props.nonEmpty) spark.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES " +
        props.map { case (key, v) => s"'$key'='$v'" }.mkString("(", ",", ")"))
    markBatch(spark, table, streamId, batchId)
    cleanup()
    true
  }

  // — PATH-BASED twins, for indexes that live as parquet directories
  // rather than catalog tables (the IVF index's codebook/assigned
  // layout). Same mechanism: a `tombstones` subdirectory of ids.

  /** The filesystem the PATH lives on — never the default FS: an index
    * on s3a/hdfs with a file: default (or vice versa) would otherwise
    * silently answer exists/rename against the wrong store.
    */
  private[graft] def fsFor(spark: SparkSession,
                           path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // — SINGLE-WRITER ENFORCEMENT. Every maintenance op here states a
  // single-writer contract; these leases make a violation FAIL LOUD
  // instead of corrupting silently: a second writer errors at acquire,
  // and a lease that changed hands mid-operation (broken + re-acquired)
  // errors at completion instead of reporting success over a
  // doubly-written index.

  /** Leases this JVM currently holds, keyed to the holding THREAD, for
    * REENTRANCY: a maintenance op that calls another op on the same
    * resource (the curation stream's guarded stage wraps the index
    * append; the upserts wrap their own staged apply) must not
    * deadlock against itself — while a DIFFERENT thread of the same
    * JVM (two streaming queries pointed at one index) is still a
    * second writer and must fail at acquire like any other.
    */
  private val heldLeases =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  private[graft] def tableLeasePath(spark: SparkSession, table: String): String = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    s"${wh.stripSuffix("/")}/${table}_writer_lease"
  }

  /** Run `body` holding the writer lease for a catalog-table index. */
  private[graft] def withTableWriterLease[T](spark: SparkSession,
                                             table: String)(body: => T): T =
    withWriterLease(spark, tableLeasePath(spark, table))(body)

  /** Run `body` holding the writer lease for a path-based index (the
    * lease file lives INSIDE the index root, which is never itself
    * renamed — only its subdirectories swap).
    */
  private[graft] def withWriterLeaseAt[T](spark: SparkSession,
                                          indexDir: String)(body: => T): T =
    withWriterLease(spark, s"${indexDir.stripSuffix("/")}/_writer_lease")(body)

  /** Acquire `leaseFile` exclusively (atomic create-no-overwrite — the
    * HDFS/object-store mutex primitive), stamp a fencing token, run
    * `body`, VERIFY the token is still ours, release. Failure modes,
    * all loud:
    *  - lease already held → IllegalStateException at acquire (the
    *    second-writer case — nothing was touched);
    *  - token changed mid-body → error at completion (someone broke the
    *    lease and wrote concurrently; the op's effects need audit);
    *  - holder crashed → the lease survives and every later writer
    *    fails at acquire until an operator verifies no writer is alive
    *    and calls [[breakWriterLease]] — fail-loud by design, since
    *    plain filesystems cannot distinguish crashed from slow.
    */
  private[graft] def withWriterLease[T](spark: SparkSession,
                                        leaseFile: String)(body: => T): T = {
    val self = Thread.currentThread()
    val holder = heldLeases.putIfAbsent(leaseFile, self)
    if (holder != null) {
      if (holder eq self) return body // reentrant: this thread owns it
      throw new IllegalStateException(
        s"writer lease $leaseFile is held by thread '${holder.getName}' of " +
          "this JVM: a second concurrent index-maintenance writer would " +
          "corrupt silently — this error is the fail-loud guard.")
    }
    try {
      val f = fsFor(spark, leaseFile)
      val path = new org.apache.hadoop.fs.Path(leaseFile)
      val token = java.util.UUID.randomUUID().toString
      def readToken(): String =
        try {
          val in = f.open(path)
          try {
            val b = new Array[Byte](128)
            val n = in.read(b)
            new String(b, 0, math.max(n, 0), "UTF-8")
          } finally in.close()
        } catch { case _: java.io.IOException => "<unreadable>" }
      val out =
        try f.create(path, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.io.IOException =>
            throw new IllegalStateException(
              s"writer lease $leaseFile is held (token ${readToken()}): a second " +
                "concurrent index-maintenance writer would corrupt silently — " +
                "this error is the fail-loud guard. If the holder crashed, " +
                "verify no writer is alive, then breakWriterLease.")
        }
      out.write(token.getBytes("UTF-8"))
      out.close()
      try {
        val r = body
        require(readToken() == token,
          s"writer lease $leaseFile changed hands mid-operation — a second " +
            "writer ran concurrently; the index needs verification")
        r
      } finally {
        if (readToken() == token) f.delete(path, false)
        ()
      }
    } finally {
      heldLeases.remove(leaseFile)
      ()
    }
  }

  /** Clear every side artifact of a catalog-table index ahead of a
    * FULL REBUILD: previous-generation tombstones (their ids belong to
    * the replaced corpus — anti-joining them against fresh rows would
    * silently drop data), applied-batch marks (a rebuild resets replay
    * history; streams must restart on a fresh checkpoint, and a stale
    * mark under a reused streamId would silently skip a live batch),
    * staged-append leftovers, and a crashed holder's writer lease.
    * Every writeIndex path calls this.
    */
  def resetTableIndexSides(spark: SparkSession, table: String): Unit = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val f = fsFor(spark, wh)
    // drop from the catalog AND delete the warehouse location: after a
    // JVM restart the (non-Hive) catalog has forgotten the side table
    // while its directory survives, and the next side-table CREATE
    // would fail with LOCATION_ALREADY_EXISTS
    Seq(tombstoneTable(table), appliedBatchTable(table),
      s"${table}_staged_append").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      f.delete(new org.apache.hadoop.fs.Path(s"${wh.stripSuffix("/")}/$t"), true)
    }
    Seq(s"${table}_staged_commit", s"${table}_staged_commit.tmp",
      s"${table}_writer_lease").foreach { n =>
      f.delete(new org.apache.hadoop.fs.Path(s"${wh.stripSuffix("/")}/$n"), true)
    }
  }

  /** MAINTENANCE ADVISOR for a catalog-table index — the operational
    * read an index owner runs on a schedule to decide WHEN to pay the
    * out-of-band costs this module defers: one row of health counters
    * and a recommendation. Merge-on-read makes deletes O(batch), but
    * the deferred debt (tombstone broadcast size, dead rows scanned
    * per probe) grows until [[compact]] folds it — and "when to
    * compact" should be a query, not a guess. Columns:
    *
    *  - `n_rows` / `n_tombstoned` / `n_live`: bare rows, distinct
    *    tombstoned ids still present, and the live view's count;
    *  - `tombstone_bp`: dead fraction in HALF_UP integer basis points
    *    (the library's ratio convention);
    *  - `n_applied_batches`: replay-guard marks accumulated (grows one
    *    row per stream batch — bounded, but a very long-lived stream's
    *    mark table is itself compactable);
    *  - `staged_leftover` / `lease_held`: a committed-but-unfolded
    *    staged append, or a (possibly crashed) writer's lease —
    *    either means "run recovery / investigate before compacting";
    *  - `recommendation`: `recover` > `compact` (tombstone_bp ≥
    *    `compactBp`) > `ok`.
    *
    * Cost: two scans + the live anti-join — an ops report, not a
    * probe-path read; run it where compaction itself would run.
    */
  def maintenanceReport(spark: SparkSession, table: String,
                        idCol: String = "doc_id",
                        compactBp: Long = 100): DataFrame = {
    import spark.implicits._
    val n = spark.table(table).count()
    val tombPresent =
      if (spark.catalog.tableExists(tombstoneTable(table)))
        spark.table(table).select(idCol)
          .join(broadcast(spark.table(tombstoneTable(table)).select(idCol)),
            Seq(idCol), "left_semi")
          .distinct().count()
      else 0L
    val live = liveRows(spark, table, idCol).count()
    val marks =
      if (spark.catalog.tableExists(appliedBatchTable(table)))
        spark.table(appliedBatchTable(table)).count()
      else 0L
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
    val f = fsFor(spark, wh)
    val staged = spark.catalog.tableExists(s"${table}_staged_append") ||
      f.exists(new org.apache.hadoop.fs.Path(s"$wh/${table}_staged_commit"))
    val lease =
      f.exists(new org.apache.hadoop.fs.Path(tableLeasePath(spark, table)))
    val bp = if (n > 0) (2 * tombPresent * 10000 + n) / (2 * n) else 0L
    val rec =
      if (staged || lease) "recover"
      else if (bp >= compactBp) "compact"
      else "ok"
    Seq((n, tombPresent, live, bp, marks, staged, lease, rec))
      .toDF("n_rows", "n_tombstoned", "n_live", "tombstone_bp",
        "n_applied_batches", "staged_leftover", "lease_held",
        "recommendation")
  }

  /** [[maintenanceReport]] for a PATH-BASED index (the IVF layout):
    * same counters over `indexDir/assigned` + the `tombstones`
    * subdirectory, with the path family's extra leftover class — a
    * committed-but-unfolded RETRAIN generation (`_retrain_commit`) or
    * staged batch (`_staging`) — folded into `staged_leftover`.
    */
  def maintenanceReportAt(spark: SparkSession, indexDir: String,
                          idCol: String = "vec_id",
                          compactBp: Long = 100): DataFrame = {
    import spark.implicits._
    val dataDir = s"${indexDir.stripSuffix("/")}/assigned"
    val f = fsFor(spark, indexDir)
    def ex(sub: String) =
      f.exists(new org.apache.hadoop.fs.Path(s"${indexDir.stripSuffix("/")}/$sub"))
    val rows = Tables.parquet(spark, dataDir)
    val n = rows.count()
    val tombPresent =
      if (ex("tombstones"))
        rows.select(idCol)
          .join(broadcast(
            Tables.parquet(spark, s"$indexDir/tombstones").select(idCol)),
            Seq(idCol), "left_semi")
          .distinct().count()
      else 0L
    val live = liveRowsAt(spark, dataDir, indexDir, idCol).count()
    val marks =
      if (ex("applied_batches"))
        Tables.parquet(spark, s"$indexDir/applied_batches").count()
      else 0L
    val staged = ex("_staging") || ex("_retrain_commit")
    val lease = ex("_writer_lease")
    val bp = if (n > 0) (2 * tombPresent * 10000 + n) / (2 * n) else 0L
    val rec =
      if (staged || lease) "recover"
      else if (bp >= compactBp) "compact"
      else "ok"
    Seq((n, tombPresent, live, bp, marks, staged, lease, rec))
      .toDF("n_rows", "n_tombstoned", "n_live", "tombstone_bp",
        "n_applied_batches", "staged_leftover", "lease_held",
        "recommendation")
  }

  /** Remove a lease a CRASHED writer left behind. Only after verifying
    * out-of-band that no writer is alive — breaking a live writer's
    * lease converts the fail-loud guard back into silent corruption
    * (the live writer will at least error at its own completion via the
    * fencing check).
    */
  def breakWriterLease(spark: SparkSession, leaseFile: String): Unit = {
    fsFor(spark, leaseFile).delete(new org.apache.hadoop.fs.Path(leaseFile), false)
    ()
  }

  /** [[applyBatchOnce]] for a path-based index: the applied-batch
    * marks live in an `applied_batches` subdirectory of `indexDir`
    * (sibling of `tombstones`), so they survive an out-of-band
    * [[compactAt]] of the data dir and need no catalog name — which a
    * filesystem path could not legally carry. Same contract: returns
    * true iff `apply` ran, and the mark lands AFTER the append (the
    * residual crash window is the documented transactional-commit
    * boundary).
    */
  def applyBatchOnceAt(spark: SparkSession, indexDir: String,
                       streamId: String, batchId: Long)(
      apply: => Unit): Boolean = withWriterLeaseAt(spark, indexDir) {
    val dir = s"${indexDir.stripSuffix("/")}/applied_batches"
    // a crash between directory creation and the first committed part
    // file leaves a dir parquet can't infer a schema from (_temporary
    // only) — treat a COMMITTED-FILE-LESS dir as "no marks yet",
    // mirroring the table-based applyBatchOnce's missing-table path.
    // The check is a directory listing, NOT a swallow-all Try: a real
    // read failure over committed marks must stay loud (treating it as
    // no-marks would silently re-apply an applied batch — the exact
    // corruption this guard exists to prevent).
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val f = fsFor(spark, indexDir)
    def hasCommittedFiles: Boolean =
      f.listStatus(dirPath).exists { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    val done = f.exists(dirPath) && hasCommittedFiles &&
      Tables.parquet(spark, dir)
        .filter(col("stream_id") === streamId && col("batch_id") === batchId)
        .head(1).nonEmpty
    if (!done) {
      apply
      import spark.implicits._
      Seq((streamId, batchId)).toDF("stream_id", "batch_id")
        .write.mode("append").parquet(dir)
    }
    !done
  }

  /** EXACTLY-ONCE variant of [[applyBatchOnceAt]] for APPEND-shaped
    * maintenance — closes the documented append→mark crash window
    * without a table format, by splitting the batch into three
    * idempotent-or-atomic steps:
    *
    *  1. STAGE: `stage(tmpDir)` writes the batch's output files under
    *     `_staging/<stream>/<batch>.tmp` in `dataDir`'s layout (e.g.
    *     `list_id=X/part-*.parquet`). A crash here leaves only tmp
    *     files; replay deletes and re-stages.
    *  2. COMMIT: one atomic rename tmp → `_staging/<stream>/<batch>`.
    *     This rename IS the transaction boundary — before it, nothing
    *     is visible; after it, the batch WILL be applied.
    *  3. FOLD + MARK: every committed part file moves into `dataDir`
    *     by individual atomic rename (part names carry task UUIDs, so
    *     they never collide and a move is trivially idempotent — a
    *     file already moved is simply absent from the staging dir on
    *     replay), then the batch-id mark lands, then the emptied
    *     staging dir drops. A crash anywhere in step 3 is recovered by
    *     replay: mark present → done (cleanup only); mark absent but
    *     committed dir present → resume folding the remaining files
    *     (possibly none) and re-mark. No interleaving double-applies
    *     or loses rows.
    *
    * Returns true iff the batch's data was (newly) applied. Single
    * writer per (indexDir, streamId), like every maintenance op here —
    * foreachBatch serializes batches, which is what makes "resume the
    * fold" race-free.
    */
  def applyBatchOnceStagedAt(spark: SparkSession, indexDir: String,
                             dataDir: String, streamId: String,
                             batchId: Long)(stage: String => Unit): Boolean =
                             withWriterLeaseAt(spark, indexDir) {
    val f = fsFor(spark, indexDir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val marksDir = s"${indexDir.stripSuffix("/")}/applied_batches"
    val committed =
      s"${indexDir.stripSuffix("/")}/_staging/$streamId/$batchId"
    val tmp = s"$committed.tmp"
    def marked: Boolean = {
      val dirPath = p(marksDir)
      f.exists(dirPath) &&
        f.listStatus(dirPath).exists { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        } &&
        Tables.parquet(spark, marksDir)
          .filter(col("stream_id") === streamId && col("batch_id") === batchId)
          .head(1).nonEmpty
    }
    if (marked) {
      // fully applied (a crash may have landed between mark and
      // cleanup) — make replay free of leftovers and report no-op
      f.delete(p(tmp), true)
      f.delete(p(committed), true)
      return false
    }
    if (!f.exists(p(committed))) {
      f.delete(p(tmp), true)
      stage(tmp)
      f.mkdirs(p(committed).getParent)
      require(f.rename(p(tmp), p(committed)),
        s"staged-batch commit rename failed: $committed")
    }
    foldInto(f, p(committed), p(dataDir))
    import spark.implicits._
    Seq((streamId, batchId)).toDF("stream_id", "batch_id")
      .write.mode("append").parquet(marksDir)
    f.delete(p(committed), true)
    true
  }

  /** Move every committed data file under `src` into `dst`, preserving
    * relative (partition) subpaths; `_`/`.`-prefixed entries (Spark's
    * _SUCCESS, _temporary) are skipped. Each move is one atomic rename;
    * already-moved files are absent from `src`, so a resumed fold picks
    * up exactly where the crash left it.
    */
  private[graft] def foldInto(f: org.apache.hadoop.fs.FileSystem,
                              src: org.apache.hadoop.fs.Path,
                              dst: org.apache.hadoop.fs.Path): Unit = {
    if (!f.exists(src)) return
    f.listStatus(src).foreach { st =>
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        if (st.isDirectory)
          foldInto(f, st.getPath, new org.apache.hadoop.fs.Path(dst, name))
        else {
          if (!f.exists(dst)) f.mkdirs(dst)
          require(f.rename(st.getPath, new org.apache.hadoop.fs.Path(dst, name)),
            s"staged-batch fold rename failed: ${st.getPath} -> $dst/$name")
        }
      }
    }
  }

  def tombstoneAt(spark: SparkSession, indexDir: String, ids: DataFrame,
                  idCol: String): Unit =
    ids.select(col(idCol)).distinct()
      .write.mode("append").parquet(s"$indexDir/tombstones")

  /** Live rows of `dataDir`, honoring `indexDir/tombstones` if present.
    * A filter on the streamed side (e.g. the IVF probe's list_id
    * partition pruning) still pushes past the broadcast anti-join.
    */
  def liveRowsAt(spark: SparkSession, dataDir: String, indexDir: String,
                 idCol: String): DataFrame = {
    val t = Tables.parquet(spark, dataDir)
    val tomb = new org.apache.hadoop.fs.Path(s"$indexDir/tombstones")
    if (fsFor(spark, indexDir).exists(tomb))
      t.join(broadcast(Tables.parquet(spark, tomb.toString).select(idCol)),
        Seq(idCol), "left_anti")
    else t
  }

  /** The two siblings a compaction swap uses beside a served dir or
    * table: `_compact_tmp`, where the fresh copy is written, and
    * `_compact_old`, where the served copy is set aside while the fresh
    * one renames in. Every swap, path or catalog, takes its names here.
    */
  private[graft] def swapSiblings(served: String): (String, String) = {
    val base = served.stripSuffix("/")
    (s"${base}_compact_tmp", s"${base}_compact_old")
  }

  /** `sub` (a relative path; "" is the root itself) under `root`. */
  private[graft] def subDir(root: String, sub: String): org.apache.hadoop.fs.Path =
    if (sub.isEmpty) new org.apache.hadoop.fs.Path(root)
    else new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root), sub)

  /** Swap the fresh copies of `subs` in, one sub-dir at a time, WITHOUT
    * ever deleting the last copy of any. A sub is a path relative to
    * `dataDir` — a partition such as `a=1/b=2`, or "" for the whole dir —
    * and its fresh copy sits at the same sub-path under `dataDir`'s
    * `_compact_tmp` sibling. Per sub: rename the served copy aside to the
    * same sub-path under `_compact_old`, rename the fresh copy in, drop
    * the aside copy; then the emptied siblings go. So at most one sub is
    * mid-swap at any instant, every crash point leaves each sub with one
    * complete copy on disk, and [[recoverDirSwap]] settles any
    * interleaving. Subs not named keep their files untouched.
    */
  private[graft] def swapDirIn(f: org.apache.hadoop.fs.FileSystem,
                               dataDir: String, subs: Seq[String]): Unit = {
    val (tmp, old) = swapSiblings(dataDir)
    require(!f.exists(subDir(old, "")),
      s"swapDirIn: unrecovered predecessor swap at $old — run recoverDirSwap first")
    subs.foreach { sub =>
      val (served, fresh, aside) = (subDir(dataDir, sub), subDir(tmp, sub), subDir(old, sub))
      require(f.exists(fresh), s"swapDirIn: fresh copy missing at $fresh")
      f.mkdirs(aside.getParent)
      require(f.rename(served, aside), s"swap rename failed: $served -> $aside")
      require(f.rename(fresh, served), s"swap rename failed: $fresh -> $served")
      f.delete(aside, true)
    }
    f.delete(subDir(old, ""), true)
    f.delete(subDir(tmp, ""), true)
    ()
  }

  /** Recover a [[swapDirIn]] a crash interrupted — called on entry by
    * every compaction (and safe to call any time: no leftovers → no-op).
    * The swap's invariants: a sub's aside copy appears only after every
    * fresh copy is COMPLETE, and a fresh copy leaves `_compact_tmp` the
    * instant it serves. Walking `_compact_old` from its root, per sub:
    *  - served copy absent, fresh present → crash between the sub's two
    *    renames: roll FORWARD (rename the fresh copy in);
    *  - served and fresh both absent → cannot happen mid-protocol, but
    *    if found (manual surgery) roll BACK so the aside copy serves;
    *  - served and fresh both present → a container of per-partition
    *    swaps (the table root, or `a=1` above `a=1/b=2`): settle its
    *    children;
    *  - served present, fresh absent → that sub's swap completed (or,
    *    for the whole dir, the crash fell after both renames): nothing.
    * Then `_compact_old` drops, and so does `_compact_tmp`: what is left
    * there is a rewrite that never reached the swap, or fresh copies of
    * subs whose swap had not started — their served copies are complete,
    * so a crash after k of n partition swaps serves k compacted and n−k
    * fragmented partitions, each once, and the next run compacts the
    * rest. Leftover tombstones after a rolled-forward swap are INERT
    * (their ids are no longer in the data, so the live-view anti-join is
    * a no-op) and fold away on the next compaction.
    */
  private[graft] def recoverDirSwap(f: org.apache.hadoop.fs.FileSystem,
                                    dataDir: String): Unit = {
    val (tmp, old) = swapSiblings(dataDir)
    def settle(sub: String): Unit = {
      val (served, fresh, aside) = (subDir(dataDir, sub), subDir(tmp, sub), subDir(old, sub))
      if (!f.exists(served)) {
        val from = if (f.exists(fresh)) fresh else aside
        require(f.rename(from, served), s"swap recovery rename failed: $from -> $served")
      } else if (f.exists(fresh))
        f.listStatus(aside).filter(_.isDirectory)
          .foreach(c => settle(s"$sub/${c.getPath.getName}".stripPrefix("/")))
    }
    if (f.exists(subDir(old, ""))) settle("")
    f.delete(subDir(old, ""), true)
    f.delete(subDir(tmp, ""), true)
    ()
  }

  /** Fold a path-based index's tombstones in: `rewrite` materializes
    * the live rows to the `_compact_tmp` sibling (the caller's layout —
    * partitioning etc), which then swaps in whole (the empty sub-path)
    * via the crash-safe [[swapDirIn]] protocol (a leftover from an
    * interrupted predecessor is recovered on entry); the tombstones drop
    * last — a crash before that leaves them inert against the compacted
    * data.
    */
  def compactAt(spark: SparkSession, dataDir: String, indexDir: String,
                idCol: String)(rewrite: (DataFrame, String) => Unit): Unit =
                withWriterLeaseAt(spark, indexDir) {
    val f = fsFor(spark, dataDir)
    recoverDirSwap(f, dataDir)
    rewrite(liveRowsAt(spark, dataDir, indexDir, idCol), swapSiblings(dataDir)._1)
    swapDirIn(f, dataDir, Seq(""))
    f.delete(new org.apache.hadoop.fs.Path(s"$indexDir/tombstones"), true)
    ()
  }

  /** [[recoverDirSwap]] for the CATALOG-TABLE swap: roll a crashed
    * [[compact]] forward (fresh `_compact_tmp` was complete the moment
    * the served table moved to `_compact_old`) or back (no fresh copy:
    * restore `_compact_old` as the served table), then clear leftovers.
    * Called on entry by every table compaction; no leftovers → no-op.
    */
  private[graft] def recoverTableSwap(spark: SparkSession, table: String): Unit = {
    val (tmp, old) = swapSiblings(table)
    if (spark.catalog.tableExists(old)) {
      if (!spark.catalog.tableExists(table)) {
        if (spark.catalog.tableExists(tmp))
          spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
        else
          spark.sql(s"ALTER TABLE $old RENAME TO $table")
      }
      spark.sql(s"DROP TABLE IF EXISTS $old")
    }
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    ()
  }

  /** Fold accumulated tombstones into the data files: `rewrite`
    * materializes the live rows into a fresh table (each index family
    * supplies its own bucket spec), the `graft.*` table properties
    * carry over, the fresh table swaps in, the tombstones drop. Run
    * out of band when the tombstone set has grown enough to matter —
    * the probe-time cost is the broadcast of the tombstone ids, so
    * compaction bounds that side table; correctness never needs it.
    * Single-writer like every index maintenance op here (plain
    * parquet catalogs have no multi-writer story).
    *
    * CRASH-SAFE swap: the served table renames aside (`_compact_old`)
    * — never drops — before the fresh table renames in, so every crash
    * point leaves at least one complete copy in the catalog and
    * [[recoverTableSwap]] (run on entry here, or by any later caller)
    * rolls the swap forward. The delete-then-rename this replaces had
    * a window where a crash erased the only copy and a RETRY destroyed
    * the fresh one too (its first step dropped `_compact_tmp`).
    */
  def compact(spark: SparkSession, table: String, idCol: String = "doc_id")
             (rewrite: (DataFrame, String) => Unit): Unit =
             withTableWriterLease(spark, table) {
    recoverTableSwap(spark, table)
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .filter { case (key, _) => key.startsWith("graft.") }
    val (tmp, old) = swapSiblings(table)
    rewrite(liveRows(spark, table, idCol), tmp)
    if (props.nonEmpty) spark.sql(
      s"ALTER TABLE $tmp SET TBLPROPERTIES " +
        props.map { case (key, v) => s"'$key'='$v'" }.mkString("(", ",", ")"))
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.sql(s"DROP TABLE $old")
    spark.sql(s"DROP TABLE IF EXISTS ${tombstoneTable(table)}")
  }
}
