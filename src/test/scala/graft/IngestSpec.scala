package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Ingest, Sinks, Tables}

class IngestSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("title", StringType),
    StructField("score", DoubleType)))

  test("json ingest quarantines malformed lines and keeps conforming rows") {
    val dir = Files.createTempDirectory("graft_json").toString
    Files.write(java.nio.file.Paths.get(dir, "feed.jsonl"), java.util.Arrays.asList(
      """{"id": 1, "title": "ok one", "score": 0.5}""",
      """{"id": 2, "title": "ok two", "score": 1.5}""",
      """{"id": 3, "title": "broken""",             // truncated JSON
      """not json at all"""))
    val r = Ingest.jsonWithQuarantine(spark, dir, schema)
    val good = r.good.collect().map(_.getAs[Long]("id")).toSet
    assert(good === Set(1L, 2L))
    val bad = r.quarantined.collect().map(_.getAs[String]("raw")).toSet
    assert(bad.size === 2)
    assert(bad.exists(_.contains("broken")))
    assert(bad.contains("not json at all"))
    // the caller owns the shared parse cache: releasing it must leave
    // no pinned storage behind. Assert THIS result's entry, not the
    // session-global cache manager — suites run concurrently in one
    // session, so a global isEmpty races other suites' caches
    assert(r.parseCached, "ingest should pin the shared parse until released")
    r.unpersist()
    assert(!r.parseCached, "ingest left a pinned cache after unpersist()")
  }

  test("schema-drifted table reads merged, normalize fills the old files' gap") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drift").toString
    // v1 files: (id, value); v2 files add a quality column
    Seq((1L, 10.0)).toDF("id", "value")
      .write.parquet(s"$dir/batch=1")
    Seq((2L, 20.0, 0.9)).toDF("id", "value", "quality")
      .write.parquet(s"$dir/batch=2")
    val merged = graft.sources.Sinks.readMerged(spark, dir)
    assert(merged.columns.contains("quality"))
    val normalized = graft.operators.Rollups.normalize(merged, Seq("value", "quality"))
    val byId = normalized.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("quality")).toMap
    assert(byId(1L) === 0.0) // old file: filled
    assert(byId(2L) === 0.9) // new file: preserved
  }

  test("xml file ingest parses nested facts and quarantines malformed elements") {
    val dir = Files.createTempDirectory("graft_xml").toString
    // XBRL-ish instance files: one <report> per filing, nested facts
    Files.write(java.nio.file.Paths.get(dir, "filing1.xml"), java.util.Arrays.asList(
      "<filings>",
      "<report><entity>AAAA</entity><period>2024-Q1</period>",
      "<facts><revenue>1000</revenue><assets>5000</assets></facts></report>",
      "<report><entity>BBBB</entity><period>2024-Q1</period>",
      "<facts><revenue>2000</revenue><assets>7500</assets></facts></report>",
      "</filings>"))
    Files.write(java.nio.file.Paths.get(dir, "filing2.xml"), java.util.Arrays.asList(
      "<filings>",
      "<report><entity>CCCC</entity><period>2024-Q2</period>",
      "<facts><revenue>not-a-number</revenue><assets>100</assets></facts></report>",
      "</filings>"))
    val schema = StructType(Seq(
      StructField("entity", StringType),
      StructField("period", StringType),
      StructField("facts", StructType(Seq(
        StructField("revenue", LongType),
        StructField("assets", LongType))))))
    val r = Ingest.xmlWithQuarantine(spark, dir, schema, rowTag = "report")
    val good = r.good.collect()
      .map(x => x.getAs[String]("entity") ->
        x.getAs[org.apache.spark.sql.Row]("facts").getAs[Long]("revenue")).toMap
    assert(good === Map("AAAA" -> 1000L, "BBBB" -> 2000L))
    // the malformed element is quarantined with its raw text, the
    // batch survives, and nothing is silently nulled into `good`
    val bad = r.quarantined.collect().map(_.getAs[String]("raw"))
    assert(bad.length === 1 && bad.head.contains("not-a-number"))
    r.unpersist()
  }

  test("zip ingest extracts matching entries, quarantines corrupt archives") {
    val dir = Files.createTempDirectory("graft_zip").toString
    // a well-formed archive: one matching instance XML + one other entry
    def writeZip(name: String, entries: (String, String)*): Unit = {
      val zos = new java.util.zip.ZipOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, name)))
      entries.foreach { case (en, content) =>
        zos.putNextEntry(new java.util.zip.ZipEntry(en))
        zos.write(content.getBytes("UTF-8"))
        zos.closeEntry()
      }
      zos.close()
    }
    writeZip("acme_instance.zip",
      "acme_instance.xbrl" -> "<facts><id>7</id><title>acme</title></facts>",
      "manifest.txt" -> "not an instance")
    writeZip("bogus_instance.zip",
      "bogus_instance.xbrl" -> "<facts><id>9</id><title>broken") // malformed XML, valid zip
    // a corrupt archive: not a zip at all
    Files.write(java.nio.file.Paths.get(dir, "corrupt_instance.zip"),
      Array.fill[Byte](64)(0x5A))
    val r = Ingest.zipEntriesWithQuarantine(spark, dir)
    val good = r.good.collect()
    assert(good.map(_.getAs[String]("entry")).toSet ===
      Set("acme_instance.xbrl", "bogus_instance.xbrl")) // manifest filtered out
    val bad = r.quarantined.collect().map(_.getAs[String]("raw"))
    assert(bad.length === 1 && bad.head.contains("corrupt_instance.zip"))
    // entry parse: permissive from_xml keeps the good doc, captures the bad
    val parsed = Ingest.parseXmlEntries(r.good, StructType(Seq(
      StructField("id", LongType), StructField("title", StringType))))
      .collect().map(row => row.getAs[String]("entry") ->
        row.getStruct(row.fieldIndex("doc"))).toMap
    val ok = parsed("acme_instance.xbrl")
    assert(ok.getAs[Long]("id") === 7L && ok.getAs[String]("title") === "acme")
    assert(ok.getAs[String]("_corrupt_record") == null)
    assert(parsed("bogus_instance.xbrl").getAs[String]("_corrupt_record") != null)
    r.unpersist()
    assert(!r.parseCached)
  }

  test("csv ingest quarantines type-mismatched rows") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Files.write(java.nio.file.Paths.get(dir, "feed.csv"), java.util.Arrays.asList(
      "id,title,score",
      "1,ok one,0.5",
      "oops,bad id,0.7",   // non-numeric id → quarantine
      "2,ok two,1.5"))
    val r = Ingest.csvWithQuarantine(spark, dir, schema)
    assert(r.good.collect().map(_.getAs[Long]("id")).toSet === Set(1L, 2L))
    val bad = r.quarantined.collect().map(_.getAs[String]("raw"))
    assert(bad.length === 1 && bad.head.startsWith("oops"))
  }

  test("ORC sink roundtrip: schema and values identical to parquet") {
    // format breadth: the same tables the parquet sinks handle write
    // and read back through Spark's built-in ORC source losslessly —
    // timestamps, decimals-from-doubles, strings, and partitioning all
    // survive, so a deployment standardized on ORC gets the identical
    // library behavior.
    import org.apache.spark.sql.functions._
    val src = graft.sources.Tables.orders(spark, sfDir)
      .withColumn("month", date_format(col("o_orderdate"), "yyyy-MM"))
    val dir = Files.createTempDirectory("graft_orc").toString
    src.write.mode("overwrite").partitionBy("month").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === src.count())
    // values identical (month re-derived as a partition string column)
    val a = src.select("o_orderkey", "o_totalprice", "o_orderdate", "month")
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    val b = back.select("o_orderkey", "o_totalprice", "o_orderdate", "month")
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    assert(a.toSeq === b.toSeq)
    // partition pruning works on the ORC layout too
    val probe = back.filter(col("month") === "1996-03")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition filter:\n$plan")
  }

  // ---- Tables.parquet: the schema comes from a footer read on the driver ----

  /** `df` has exactly what `spark.read.parquet(path)` gives: schema and rows. */
  private def sameAsSpark(path: String, df: DataFrame): Unit = {
    val ref = spark.read.parquet(path)
    assert(df.schema === ref.schema, path)
    assert(df.collect().toSeq === ref.collect().toSeq, path)
  }

  /** The one data file `dir` holds (a single-partition write). */
  private def partFile(dir: String): java.nio.file.Path =
    new java.io.File(dir).listFiles().find(_.getName.startsWith("part-")).get.toPath

  test("Tables.parquet: every Tables loader reads Spark's own schema and rows") {
    val loaders = Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)](
      "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings,
      "events" -> ((s, d) => Tables.table(s, d, "events")))
    loaders.foreach { case (name, load) =>
      sameAsSpark(s"$sfDir/$name.parquet", load(spark, sfDir)) }
    // the corpus' events.ts is a TIMESTAMP(MICROS) NTZ column
    assert(Tables.events(spark, sfDir).schema("ts").dataType === TimestampType)
  }

  test("Tables.parquet: a TIMESTAMP(NANOS) events.ts types as the session's nanosAsLong says") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_nanos").toString
    val path = s"$dir/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val nanos = Seq(1L -> 1700000000123456789L, 2L -> 1700000001987654321L)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.foreach { case (id, ns) =>
      w.write(rows.newGroup().append("event_id", id).append("ts", ns))
    } finally w.close()
    // the shared session sets spark.sql.legacy.parquet.nanosAsLong=true:
    // the footer converter must honor it exactly as inference does
    val raw = Tables.table(spark, dir, "events")
    assert(raw.schema("ts").dataType === LongType)
    // ... from the footer itself, not by falling back to inference
    assert(jobsStartedBy(Tables.table(spark, dir, "events")) === 0)
    sameAsSpark(path, raw)
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    val micros = ev.orderBy("event_id").select(unix_micros(col("ts"))).collect()
    assert(micros.map(_.getLong(0)).toSeq === nanos.map(_._2 / 1000))
  }

  test("Tables.parquet: a Sinks table reads like Spark after upsertPartitions and compact") {
    val dir = Files.createTempDirectory("graft_sinks_read").toString + "/t"
    val src = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("string").as("o_year"))
    Sinks.writePartitioned(src, dir, Seq("o_year"))
    sameAsSpark(dir, Sinks.readPartitioned(spark, dir))
    // the partition column still comes from the directory names, typed as inference types it
    assert(Sinks.readPartitioned(spark, dir).schema("o_year").dataType === IntegerType)
    val year1995 = src.filter(col("o_year") === "1995")
    val bumped = (col("o_totalprice") + 1).cast(src.schema("o_totalprice").dataType)
    Sinks.upsertPartitions(year1995.withColumn("o_totalprice", bumped), dir, Seq("o_year"))
    val upserted = Sinks.readPartitioned(spark, dir)
    sameAsSpark(dir, upserted)
    // a fresh listing: the upserted rows are what the read serves
    assert(upserted.filter(col("o_year") === 1995).agg(sum("o_totalprice")).head().get(0) ===
      year1995.agg(sum(bumped)).head().get(0))
    Sinks.compact(spark, dir, Seq("o_year"))
    sameAsSpark(dir, Sinks.readPartitioned(spark, dir))
    assert(Sinks.readPartitioned(spark, dir).count() === src.count())
  }

  /** Spark jobs `body` starts on this thread (other suites may share the
    * session, so jobs are told apart by job group). Listener events
    * arrive in order: once a marker job run after `body` is seen, every
    * start `body` caused has been seen too. */
  private def jobsStartedBy(body: => Unit): Int = {
    val group = s"graft-jobs-started-by-${System.nanoTime()}"
    val marker = s"$group-marker"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(group)).foreach(starts.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!starts.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(starts.contains(marker), "listener never saw the marker job")
      starts.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("Tables.parquet builds its DataFrame without starting a Spark job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_no_job").toString + "/t"
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .write.partitionBy("k").parquet(dir)
    val paths = Seq(s"$sfDir/orders.parquet", s"$sfDir/events.parquet", dir)
    // control: Spark's inferring read starts a job per open, so the count sees builds
    assert(jobsStartedBy(paths.foreach(spark.read.parquet(_))) >= paths.size)
    assert(jobsStartedBy(paths.foreach(Tables.parquet(spark, _))) === 0)
  }

  test("Tables.parquet fails like spark.read.parquet on a missing path and a _SUCCESS-only dir") {
    val missing = Files.createTempDirectory("graft_missing").toString + "/absent"
    val empty = Files.createTempDirectory("graft_empty").toString
    Files.write(Paths.get(empty, "_SUCCESS"), Array.emptyByteArray)
    Seq(missing, empty).foreach { path =>
      val ours = intercept[Exception](Tables.parquet(spark, path))
      val theirs = intercept[Exception](spark.read.parquet(path))
      assert(ours.getClass === theirs.getClass, path)
      def condition(e: Exception) = e match {
        case t: SparkThrowable => Option(t.getCondition)
        case _ => None
      }
      assert(condition(ours) === condition(theirs), path)
      assert(condition(ours).isDefined, s"$path: ${ours.getMessage}")
    }
  }

  test("Tables.parquet reads the footer inference reads: summaries first, Spark's path on a partition key") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_summary").toString
    val dir = s"$base/t"
    Seq((1L, 10.0)).toDF("id", "value").coalesce(1).write.parquet(dir)
    // summary files with schemas no data file has: _common_metadata's
    // wins over _metadata's and the data file's
    Seq((2L, 20.0, "x")).toDF("id", "value", "common").coalesce(1).write.parquet(s"$base/c")
    Seq((3L, 30.0, 0.5)).toDF("id", "value", "meta").coalesce(1).write.parquet(s"$base/m")
    Files.copy(partFile(s"$base/c"), Paths.get(dir, "_common_metadata"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(partFile(s"$base/m"), Paths.get(dir, "_metadata"),
      StandardCopyOption.REPLACE_EXISTING)
    val df = Tables.parquet(spark, dir)
    assert(df.columns.toSeq === Seq("id", "value", "common"))
    sameAsSpark(dir, df)
    // a footer that also names the partition key (not a Spark-written
    // layout): Spark resolves the overlap itself, so the helper defers
    val overlap = s"$base/overlap"
    Seq(("7", 1L)).toDF("k", "id").write.parquet(s"$overlap/k=7")
    sameAsSpark(overlap, Tables.parquet(spark, overlap))
  }
}
