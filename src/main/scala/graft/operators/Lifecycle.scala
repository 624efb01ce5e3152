package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-status lifecycle bookkeeping — the operational layer the
  * reference keeps as a per-article status flag walked through
  * extract → transform → load, re-querying MongoDB for
  * "status = extracted" before each stage and flipping the flag after
  * it (reference: airflow/dags/iqplus/transform_iqplus_news_dags.py:
  * 96-156, extract_iqplus_news_dag.py status writes). That is the
  * query a user of the reference runs daily: "what is pending for
  * stage X, and mark these done — safely re-runnable".
  *
  * Spark-native re-expression: the status table is DATA (one row per
  * document: doc_id, status), pending-work is one left join + filter
  * over it, and a stage completion is a monotone merge — never a
  * per-row find-and-update loop. Idempotence comes from the merge
  * rule, not from transactional row locks: statuses form a totally
  * ordered ladder (new < extracted < transformed < loaded) and
  * [[advance]] keeps the LADDER-MAX per document, so replaying a
  * batch (the Airflow retry case) or delivering a transition twice
  * cannot regress a document or duplicate a row (spec-pinned).
  *
  * Scale shape: everything is equi-joined/aggregated on doc_id — one
  * hash exchange per operation, co-partitioned across the
  * pending/advance pair; the persisted form partitions by status so
  * the daily "pending for X" read is a partition-pruned scan of the
  * (small) not-yet-done directories, and a stage completion rewrites
  * only the affected status partitions via dynamic partition
  * overwrite ([[graft.sources.Sinks.upsertPartitions]]).
  */
object Lifecycle {

  /** The status ladder, in processing order. A document absent from
    * the status table is implicitly at the ladder's base ("new").
    */
  val Ladder: Seq[String] = Seq("new", "extracted", "transformed", "loaded")

  /** Ladder position as a column (base = 1, matching array_position's
    * 1-based convention; 0 never occurs — unknown statuses are a
    * contract violation surfaced by the join producing null rank).
    */
  private def rank(status: org.apache.spark.sql.Column) =
    array_position(lit(Ladder.toArray), status)

  /** Current status per incoming document: LEFT join onto the status
    * table, absent → "new". The projection keeps the caller's columns.
    */
  def withStatus(incoming: DataFrame, status: DataFrame): DataFrame =
    incoming.join(status, Seq("doc_id"), "left")
      .withColumn("status", coalesce(col("status"), lit("new")))

  /** The PENDING-WORK view for a stage: every incoming document whose
    * current status sits BELOW `stage` on the ladder — exactly the
    * reference's "select where status = previous stage" daily query,
    * generalized so a document that skipped a stage (crashed mid-
    * pipeline) still shows up as pending rather than falling through
    * the single-status equality. One join, one filter; with the
    * status table partitioned by status the scan prunes to the
    * below-stage directories.
    */
  def pendingWork(incoming: DataFrame, status: DataFrame, stage: String): DataFrame =
    withStatus(incoming, status)
      .filter(rank(col("status")) < rank(lit(stage)))

  /** Stage completion: every document in `processed` moves to `to`,
    * merged ladder-max per doc_id so the operation is IDEMPOTENT and
    * MONOTONE — replaying yesterday's batch (retry, at-least-once
    * delivery) can neither regress a further-along document nor
    * produce duplicate rows. Emits the full next status snapshot
    * (one row per known doc_id).
    */
  def advance(status: DataFrame, processed: DataFrame, to: String): DataFrame =
    status.select(col("doc_id"), col("status"))
      .unionByName(processed.select(col("doc_id"), lit(to).as("status")))
      .groupBy("doc_id")
      .agg(max_by(col("status"), rank(col("status"))).as("status"))

  /** Per-status inventory over the whole corpus (the ops dashboard
    * row: how much is stuck where) — includes the implicit "new"
    * bucket for incoming documents the status table has never seen.
    */
  def statusCounts(incoming: DataFrame, status: DataFrame): DataFrame =
    withStatus(incoming.select("doc_id"), status)
      .groupBy("status").agg(count(lit(1)).as("n_docs"))
      .orderBy("status")

  /** Persist a status snapshot partitioned BY STATUS: the daily
    * pending query reads only the below-stage directories, and stage
    * completions rewrite only the partitions they touch.
    */
  def writeStatus(status: DataFrame, path: String): Unit = {
    // a full rebuild supersedes any in-flight upsert: a crashed
    // predecessor's committed-but-unfolded advance was computed against
    // the REPLACED table, and recovery folding it into the fresh one
    // would resurrect superseded statuses
    val fs = graft.sources.IndexMaintenance.fsFor(status.sparkSession, path)
    Seq("_upsert_commit", "_upsert_tmp", "_upsert_old").foreach { sfx =>
      fs.delete(new org.apache.hadoop.fs.Path(path.stripSuffix("/") + sfx), true)
    }
    graft.sources.Sinks.writePartitionedClustered(
      status.select(col("doc_id"), col("status")), path, Seq("status"))
  }

  /** [[advance]] against the PERSISTED table, rewriting only the
    * affected status partitions (the `to` partition plus every
    * partition a processed document departs) via dynamic partition
    * overwrite — the reference's per-row update loop as one bounded
    * partition-scoped write. Safely re-runnable: a second identical
    * call computes identical partition contents and overwrites them
    * in place (spec-pinned).
    */
  def upsertAdvance(spark: SparkSession, path: String,
                    processed: DataFrame, to: String): Unit = {
    // roll forward a predecessor a crash interrupted BEFORE reading:
    // the stage must see a complete table (a half-folded predecessor
    // would feed this upsert corrupted current state)
    recoverUpsertAdvance(spark, path)
    stageUpsertAdvanceOnly(spark, path, processed, to)
    recoverUpsertAdvance(spark, path) // fold the commit just staged
  }

  /** Compute an advance and durably COMMIT it without folding — the
    * crash-simulation seam for the staged-commit spec (a "crash"
    * between the commit rename and the fold is this method returning).
    * Production callers use [[upsertAdvance]].
    */
  private[graft] def stageUpsertAdvanceOnly(spark: SparkSession, path: String,
                                            processed: DataFrame,
                                            to: String): Unit = {
    val fs = graft.sources.IndexMaintenance.fsFor(spark, path)
    val cur = graft.sources.Tables.parquet(spark, path)
    val next = advance(cur, processed, to)
    // partitions that change: where processed docs currently sit
    // (they leave) + the destination. Bounded by the ladder length —
    // the collect is |ladder| strings, never corpus rows.
    val affected = cur.join(processed.select("doc_id"), Seq("doc_id"))
      .select("status").distinct().collect().map(_.getString(0)).toSet + to
    val changed = next.filter(col("status").isin(affected.toSeq: _*))
    // `next` READS the table being replaced, so the new contents are
    // materialized to a sibling tmp dir first. The swap is CRASH-SAFE
    // in the compaction-protocol style: the tmp (plus the affected-
    // partition list) commits behind ONE atomic rename, and the
    // per-partition folds move the served directory ASIDE (a sibling
    // `_upsert_old` root — never inside the table, where partition
    // discovery would read it as a status value) before the fresh one
    // renames in — so no crash point deletes the last copy of a
    // partition, and [[recoverUpsertAdvance]] replays the fold from
    // the commit. (The old delete-then-rename had a window where a
    // crash erased a partition and the RE-RUN recomputed `next` from
    // the corrupted table.) On an object store the whole swap is a
    // manifest commit; locally, renames.
    val tmp = path.stripSuffix("/") + "_upsert_tmp"
    val commit = path.stripSuffix("/") + "_upsert_commit"
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.delete(p(tmp), true)
    changed.write.mode("overwrite").partitionBy("status").parquet(tmp)
    // the manifest rides INSIDE the commit: which partitions are
    // affected, and which of those carry fresh content (recorded at
    // commit time — the fold CONSUMES the content dirs by rename, so a
    // replay could not re-derive the distinction between "cleared"
    // and "fresh partition already folded" from the leftovers)
    val fresh = fs.listStatus(p(tmp))
      .map(_.getPath.getName).filter(_.startsWith("status=")).sorted
      .map(_.stripPrefix("status="))
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "_affected"), true)
    out.write((affected.toSeq.sorted.map("a " + _) ++ fresh.map("f " + _))
      .mkString("\n").getBytes("UTF-8"))
    out.close()
    require(fs.rename(p(tmp), p(commit)),
      s"upsertAdvance commit rename failed: $commit")
  }

  /** Fold a COMMITTED upsert into the table: per affected partition,
    * move the served dir aside, rename the fresh one in (or delete the
    * served dir when every doc departed — the fresh side has no such
    * partition), then drop the old copies and the commit. Every step
    * is an idempotent rename/delete keyed on existence, so a replay
    * from ANY crash point inside resumes exactly the remaining moves.
    */
  private def foldUpsertAdvance(fs: org.apache.hadoop.fs.FileSystem,
                                path: String, commit: String): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val oldRoot = path.stripSuffix("/") + "_upsert_old"
    val in = fs.open(p(s"$commit/_affected"))
    val manifest = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
    val affected = manifest.collect { case s if s.startsWith("a ") => s.drop(2) }
    val fresh = manifest.collect { case s if s.startsWith("f ") => s.drop(2) }.toSet
    fs.mkdirs(p(oldRoot))
    affected.foreach { st =>
      val dst = p(s"$path/status=$st")
      val src = p(s"$commit/status=$st")
      if (fresh(st)) {
        // fresh content for this partition: aside-then-in; a consumed
        // src (replay after this partition already folded) is a no-op
        if (fs.exists(src)) {
          if (fs.exists(dst))
            require(fs.rename(dst, p(s"$oldRoot/status=$st")),
              s"upsertAdvance aside rename failed: $dst")
          require(fs.rename(src, dst),
            s"upsertAdvance fold rename failed: $src -> $dst")
        }
      } else {
        // every doc departed this partition: clearing IS the terminal
        // state, and re-deleting on replay is a no-op
        fs.delete(dst, true)
        ()
      }
    }
    fs.delete(p(oldRoot), true)
    fs.delete(p(commit), true)
    ()
  }

  /** Entry-time recovery for [[upsertAdvance]]: a committed-but-
    * unfolded (or half-folded) predecessor rolls FORWARD from its
    * commit; an uncommitted tmp (crash mid-write) drops. No leftovers
    * → no-op.
    */
  private[graft] def recoverUpsertAdvance(spark: SparkSession,
                                          path: String): Unit = {
    val fs = graft.sources.IndexMaintenance.fsFor(spark, path)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val commit = path.stripSuffix("/") + "_upsert_commit"
    if (fs.exists(p(commit))) foldUpsertAdvance(fs, path, commit)
    else fs.delete(p(path.stripSuffix("/") + "_upsert_old"), true)
    fs.delete(p(path.stripSuffix("/") + "_upsert_tmp"), true)
    ()
  }
}
