package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the TPC-H-ish test corpus.
  *
  * All loads are plain declarative scans so Catalyst can push filters
  * and prune columns down to the parquet reader (verify with
  * `.explain("formatted")` — `PushedFilters` / `ReadSchema`). At 100 TB
  * each of these would be a partitioned table; nothing here assumes a
  * single file.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Open a parquet file or directory the way `spark.read.parquet(path)`
    * does, minus its schema-inference Spark job. With no schema given,
    * Spark reads one footer inside a whole job (`parallelize(..).collect()`
    * in `SchemaMergeUtils`) on every open — tens of ms of driver floor per
    * lookup. Here the driver reads THE SAME footer itself and hands its
    * schema to `spark.read.schema(..)`:
    *
    *  - the leaves Spark's file index lists (hidden `_`/`.` names skipped
    *    at every level, `_metadata`/`_common_metadata` kept), sorted by
    *    full path;
    *  - `_common_metadata` first, else `_metadata`, else the data file
    *    with the smallest path (`ParquetUtils.inferSchema` without
    *    `mergeSchema`);
    *  - converted by `readSchemaFromFooter` with the session's SQL conf,
    *    so `nanosAsLong`, `binaryAsString` and `inferTimestampNTZ` type
    *    the columns as inference does.
    *
    * Partition columns live in directory names, not in the footer, so
    * they stay out of the given schema and Spark still discovers and
    * types them from the listing exactly as before. A footer that names
    * a partition key (files not written by Spark) takes Spark's own
    * path, as does anything that keeps the footer from being read — a
    * missing path, no data file, an unreadable footer — so the caller
    * gets Spark's own answer or error. Nothing is cached: each call
    * lists the files afresh, so appends, upserts and compactions stay
    * visible. [[Sinks.readMerged]] must read every footer and stays on
    * Spark's `mergeSchema` path.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    try {
      val conf = GraftSqlBridge.hadoopConf(spark)
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val partitionKeys = scala.collection.mutable.Set.empty[String]
      def leaves(dir: Path): Seq[FileStatus] =
        fs.listStatus(dir).toSeq
          .filterNot(c => GraftSqlBridge.isHiddenName(c.getPath.getName))
          .flatMap { c =>
            val name = c.getPath.getName
            if (c.isFile) Seq(c)
            else if (name.contains("=")) {
              partitionKeys += name.takeWhile(_ != '=').toLowerCase
              leaves(c.getPath)
            }
            // Spark's index serves no file below a non-partition dir
            else Nil
          }
      val top = fs.getFileStatus(root)
      val files = (if (top.isDirectory) leaves(top.getPath) else Seq(top))
        .sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      val summaries = Set("_common_metadata", "_metadata")
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(files.find(f => !summaries(f.getPath.getName)))
        .map { f =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
            new ParquetToSparkSchemaConverter(GraftSqlBridge.sqlConf(spark)))
        }
        .filterNot(_.fieldNames.exists(n => partitionKeys(n.toLowerCase)))
    } catch { case NonFatal(_) => None }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Schema-adaptive events loader. The corpus' `ts` column has shipped
    * in two physical encodings over time, and real upstream feeds drift
    * the same way — so dispatch on the type the scan actually reports
    * rather than assuming one:
    *
    *  - `TIMESTAMP(MICROS, isAdjustedToUTC=false)` → Spark reads
    *    `TimestampNTZType`; cast to the session-TZ `TimestampType` so
    *    every downstream consumer (epoch-second gap math, `date_format`
    *    period keys) sees the same semantics as the historical encoding.
    *    Sessions here run with `spark.sql.session.timeZone=UTC`, so the
    *    cast is value-preserving on the underlying micros.
    *  - `TIMESTAMP(MICROS/MILLIS, adjusted)` → already `TimestampType`,
    *    use as-is.
    *  - `TIMESTAMP(NANOS)` surfaces as a nanos-since-epoch `LongType`
    *    (only when `spark.sql.legacy.parquet.nanosAsLong=true`; the
    *    vectorized reader rejects nanos otherwise — fail fast with a
    *    pointer in that branch). Convert with integer division
    *    (nanos-since-epoch exceeds double precision); the corpus' min
    *    inter-event gap is ~59 ms, so micros truncation never reorders.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case LongType =>
        require(s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
          "events.ts is a nanos long; Tables.events needs " +
            "spark.sql.legacy.parquet.nanosAsLong=true on the SparkSession builder")
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected timestamp or nanos long")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
