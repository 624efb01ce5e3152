package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.PartitioningUtils
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** Load-stage sinks: partitioned parquet layout.
  *
  * The reference's load stage writes one MongoDB collection per
  * pipeline and one output per (year, period) for financial reports
  * (reference: idx_transformation_load_script.py:469-519, per-period
  * loop). The Spark-native equivalent is a single partitioned write:
  * `partitionBy(period columns)` produces the same per-period layout
  * as directories, and readers get partition pruning for free — a
  * `WHERE period_key = X` scan touches only that directory. At 100 TB
  * this is the difference between a full scan and a point read.
  *
  * The writer keeps one shuffle-free pass: `partitionBy` splits files
  * within each task. For very high-cardinality partition columns,
  * repartition on them first so each task writes few files (small-file
  * avoidance).
  */
object Sinks {

  /** Write `df` as parquet partitioned by `partitionCols`. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Write pre-clustered: repartition on the partition columns first so
    * each output directory is written by few tasks (bounds file count
    * at high partition cardinality).
    */
  def writePartitionedClustered(df: DataFrame, path: String,
                                partitionCols: Seq[String]): Unit =
    df.repartition(partitionCols.map(df.col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Read a partitioned table back (partition columns are recovered
    * from the directory layout and prune on filter). Opens through
    * [[Tables.parquet]]: the driver reads the one footer Spark's
    * inference would (the data file with the smallest path, unless a
    * `_common_metadata`/`_metadata` summary exists) instead of starting
    * a Spark job for it. Partition columns are not in any footer — they
    * are left to Spark, which types them from the directory names
    * exactly as an inferred read does.
    */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)


  /** Read a table whose schema DRIFTED across its ingest history
    * (columns added over time): `mergeSchema` unions the per-file
    * schemas, and [[graft.operators.Rollups.normalize]] downstream
    * fills the columns older files lack. mergeSchema costs a footer
    * read per file — acceptable on a compacted table, pathological on
    * millions of un-compacted fragments, which is one more reason
    * [[compact]] exists. This is the one read that stays on Spark's own
    * inference (not [[Tables.parquet]]): a merged schema needs every
    * footer, which Spark reads in parallel tasks.
    */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Idempotent per-period upsert: replace ONLY the partitions present
    * in `df`, leaving every other partition untouched — Spark's
    * dynamic partition overwrite. This is the reference's
    * delete-then-insert per (year, period) load
    * (idx_transformation_load_script.py:469-519) without the
    * full-table overwrite: a daily re-run rewrites that day's
    * directory and nothing else, so backfills are idempotent and
    * concurrent readers of other periods are unaffected.
    */
  def upsertPartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Small-file compaction: rewrite each FRAGMENTED partition of a
    * partitioned table — one holding more than one data file — as one
    * file, and leave every other partition's files as they are.
    * Incremental per-period loads accumulate one-file-per-task fragments;
    * at 100 TB the resulting millions of small files dominate scan
    * open/seek cost and NameNode/listing pressure, while an already
    * compact partition (the clustered write's and each one-period
    * upsert's output) gains nothing from a rewrite.
    *
    * The driver lists the leaf partition dirs with Spark's hidden-name
    * rule. No fragmented partition → no Spark job and no file touched.
    * Otherwise the fragmented partitions are read through a partition
    * filter (partition values as the directory names' raw strings, so
    * the rewrite lands under the same names), clustered on the partition
    * columns (each value lands in one task → one file) and written under
    * the `_compact_tmp` sibling; then each swaps in by itself through
    * [[IndexMaintenance.swapDirIn]]'s rename protocol. A crash anywhere
    * leaves every partition served by exactly one complete copy: before
    * the swap, the old files; after k of n partition swaps, k compacted
    * partitions and n−k fragmented ones; between one partition's two
    * renames, its fresh copy, which [[IndexMaintenance.recoverDirSwap]]
    * (run on entry, under the writer lease) rolls in. A re-run compacts
    * whatever is still fragmented.
    */
  def compact(spark: SparkSession, path: String, partitionCols: Seq[String]): Unit =
    // the lease file sits BESIDE the dir (its partitions are swapped)
    IndexMaintenance.withWriterLease(
      spark, path.stripSuffix("/") + "_writer_lease") {
    val fs = IndexMaintenance.fsFor(spark, path)
    // roll forward/back a predecessor swap a crash interrupted BEFORE
    // listing — the listing must see one complete copy per partition
    IndexMaintenance.recoverDirSwap(fs, path)
    val fragmented = Tables.leafFiles(fs, new Path(path))
      .filterNot { case (_, f) => Tables.summaryFiles(f.getPath.getName) }
      .groupBy(_._1).collect { case (sub, files) if files.size > 1 => sub }.toSeq.sorted
    if (fragmented.nonEmpty) {
      val tmp = IndexMaintenance.swapSiblings(path)._1
      // one conjunction of `col = raw value` per fragmented partition
      val keep = fragmented.map(PartitioningUtils.parsePathFragmentAsSeq(_).map {
        case (c, v) =>
          if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) col(c).isNull else col(c) === v
      }.foldLeft(lit(true))(_ && _)).reduce(_ || _)
      val df = Tables.parquet(spark, path, partitionCols).filter(keep)
      df.repartition(partitionCols.map(df.col): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(tmp)
      // a partition whose files held no row has no fresh copy: left as is
      IndexMaintenance.swapDirIn(fs, path,
        fragmented.filter(sub => fs.exists(IndexMaintenance.subDir(tmp, sub))))
    }
  }

  /** Materialize a training EPOCH on disk: the documents with their
    * [[graft.operators.Sampling.trainShards]] order computed INLINE
    * (shared [[graft.operators.Sampling.withShardOrder]] projection —
    * shard/pos are pure functions of doc_id, so joining the corpus
    * back onto the order table would pay a second corpus scan plus a
    * doc_id shuffle for nothing), written `shard=N`-partitioned with
    * rows pos-sorted inside each shard's single file — reading shard
    * directories in shard order and rows in file order IS the epoch
    * permutation (parquet preserves row order within a file). One
    * corpus scan, one exchange (the window's shard partitioning,
    * whose output order already satisfies the partitioned writer — no
    * re-sort). One file per shard directory; parallelism is ≤
    * numShards (distinct shards can hash into the same reducer, so a
    * task may write two shard files serially) — size numShards
    * comfortably above the cluster's cores, as a real run does anyway
    * (thousands of shards at 100 TB). A new `seed` is a fresh epoch
    * written the same way.
    */
  def writeShards(documents: DataFrame, path: String,
                  numShards: Int = 8, seed: Int = 1): Unit =
    graft.operators.Sampling.withShardOrder(documents, numShards, seed)
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Z-ORDER curve key: interleave the low `bits` of two non-negative
    * long dimensions so rows close in BOTH dimensions get close curve
    * keys. Sorting a table by this key clusters multi-dimensional
    * locality into contiguous file ranges — parquet min/max stats
    * then prune a two-dimensional range predicate the way a
    * single-column sort can only prune one dimension (the lakehouse
    * Z-ORDER BY). Composed from builtin bit expressions, so the whole
    * key stays inside whole-stage codegen; integer-exact in any
    * engine.
    */
  def zorderKey(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
                bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(bits > 0 && bits <= 31, "bits per dimension must be in [1, 31]")
    // Out-of-range inputs FAIL, never silently alias: a dimension with
    // set bits above `bits` would truncate onto the same curve position
    // as its low-bits twin, quietly destroying the disjoint-file
    // pruning property writeZOrdered promises (and identically in any
    // engine, so an oracle can't catch it). The branch is row-local
    // codegen'd work; size `bits` to the dimension's domain instead of
    // relying on truncation.
    val cap = 1L << bits
    def checked(c: org.apache.spark.sql.Column, nm: String) =
      when(c < 0 || c >= cap, raise_error(concat(
        lit(s"zorderKey: $nm outside [0, $cap) for bits=$bits, got "),
        c.cast("string")))).otherwise(c)
    val (cx, cy) = (checked(x, "x"), checked(y, "y"))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftrightunsigned(cx, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftrightunsigned(cy, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Write `df` laid out along the Z-curve of (xCol, yCol):
    * range-partitioned then sorted by the curve key, so every output
    * file covers a DISJOINT curve interval (spec-asserted) and a
    * reader filtering on either dimension skips files by min/max
    * stats. The curve key rides with the data — it IS the pruning
    * column.
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    numFiles: Int = 8): Unit =
    df.withColumn("z", zorderKey(df(xCol), df(yCol)))
      .repartitionByRange(numFiles, org.apache.spark.sql.functions.col("z"))
      .sortWithinPartitions("z")
      .write.mode("overwrite").parquet(path)

  /** Save as a bucketed table: rows are hash-clustered into `numBuckets`
    * files per partition on `bucketCols`. Joins/aggregations on the
    * bucket columns between co-bucketed tables skip the shuffle
    * entirely — the pre-partitioning IS the exchange. This is the
    * at-scale answer for a fact table joined repeatedly on the same
    * key (orders ⋈ lineitem on orderkey at 100 TB shuffles terabytes
    * per query unless both sides are bucketed).
    */
  def writeBucketed(df: DataFrame, table: String,
                    bucketCols: Seq[String], numBuckets: Int): Unit =
    bucketed(df, table, bucketCols, numBuckets, "overwrite")

  /** Append-mode companion of [[writeBucketed]] — every index append
    * goes through here so a table's build and its incremental appends
    * share ONE bucket/sort spec and can never drift in layout (Spark
    * rejects a mismatched bucketBy at append time, but that check
    * only protects the axes both paths actually declare the same
    * way).
    */
  def appendBucketed(df: DataFrame, table: String,
                     bucketCols: Seq[String], numBuckets: Int): Unit =
    bucketed(df, table, bucketCols, numBuckets, "append")

  /** The compaction rewrite of a bucketed index: [[writeBucketed]] after
    * shuffling each row to the task numbered by its bucket id, Spark's
    * `pmod(murmur3(bucket cols), numBuckets)`, so each task holds one
    * bucket and writes its one file; without it, every read task writes
    * a file per bucket it meets. A plain `repartition` on the bucket
    * columns does not do it: a bucketed source already reports that hash
    * partitioning, so Spark drops the shuffle as redundant and then
    * un-buckets the scan. Every index family's compaction rewrites
    * through here.
    */
  def rewriteBucketed(df: DataFrame, table: String,
                      bucketCols: Seq[String], numBuckets: Int): Unit =
    writeBucketed(
      df.repartitionById(numBuckets, pmod(hash(bucketCols.map(df.col): _*), lit(numBuckets))),
      table, bucketCols, numBuckets)

  private def bucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                       numBuckets: Int, mode: String): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
