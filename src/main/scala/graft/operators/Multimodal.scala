package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus batch feature-extraction
  * operators.
  *
  * The actual media decode is STUBBED (this container has no image/
  * audio libraries): `fakeDecodeFeatures` derives a deterministic
  * feature vector from the raw bytes (a normalized byte histogram), so
  * the Spark-side contract — schema, partition-preserving per-batch
  * processing, output shape — is real and tested, and swapping the
  * stub for a JNI/codec decoder changes only the inner function.
  *
  * Scale notes: mapPartitions keeps the decode batched per partition
  * (one codec init per partition, not per row), never collects, and
  * preserves the input partitioning.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** Synthesize a deterministic media table from any keyed frame —
    * stands in for `spark.read.format("binaryFile")` on a media corpus.
    */
  def synthesize(df: DataFrame, idCol: String, seedCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")).as("modality"),
      // payload bytes derived from the seed column — deterministic
      to_binary(sha2(col(seedCol).cast("string"), 256), lit("hex")).as("payload"),
      map(lit("codec"), lit("stub"), lit("origin"), col(seedCol).cast("string")).as("meta"))

  private val histSize = 16

  /** Synthetic near-dup media corpus for the DRIVER-VERIFIED phash
    * gate: groups of `groupSize` consecutive ids share a 32-byte
    * sha256 payload plus ONE distinguishing byte (`id % 256`), so
    * in-group payloads decode to feature vectors a single histogram
    * bin apart — genuine small-hamming perceptual near-dups, while
    * cross-group pairs stay at random-hash distance. Every stage is
    * engine-replayable arithmetic (sha256 hex, byte histogram, fixed
    * hyperplane signs), which is what lets the full decode → phash →
    * band → hamming pipeline be checked by an exact SQL oracle rather
    * than only by specs.
    */
  def gateMedia(docs: DataFrame, groupSize: Int = 20): DataFrame =
    mediaFrom(docs, expr(s"CAST(doc_id div $groupSize AS STRING)"))

  /** REALISTIC-dup-rate media corpus for the scaling audit: every
    * media id gets a unique payload except a ~1/dupMod minority whose
    * payload twins media_id − 3 (same modality — ids are assigned
    * round-robin mod 3), so the corpus carries ~1.5% true near-dup
    * pairs instead of [[gateMedia]]'s saturated 20-groups (collision
    * multiplicity 120 per group — the round-12 audit measured
    * dup-rate inflation there, not banding scale).
    *
    * Payloads are PURE SPIKE RUNS: for each of the 16 histogram bins,
    * 1..16 copies of a bin-b byte, the run length drawn from the
    * group-sha's b-th high nibble — so each doc's feature vector is a
    * random 16-dim point and phashes spread the way a real
    * perceptual-hash corpus spreads. (The first cut kept the raw
    * 32-byte sha prefix: uniform bytes give near-uniform histograms,
    * the fixed hyperplanes' dots go bias-dominated, pairwise hamming
    * centers at ~14/64, and BOTH banding schemes collide on ~14% of
    * ALL pairs — unmeasurable and unrealistic.) Twins share the group
    * sha (identical runs) and differ only in the trailing
    * distinguishing byte — one histogram count over ~137 moved — so
    * they sit at hamming ≤ 2 while unrelated docs sit far apart.
    * Every stage is engine-replayable arithmetic, like gateMedia.
    */
  def realisticMedia(docs: DataFrame, dupMod: Int = 67): DataFrame = {
    val group =
      s"CAST(CASE WHEN doc_id % $dupMod = 3 THEN doc_id - 3 ELSE doc_id END AS STRING)"
    val hexd = "0123456789abcdef"
    // one run of bin-b bytes per histogram bin, length 1..16 from the
    // sha's b-th high nibble: the histogram IS a random 16-dim vector
    val runs = (0 until 16).map { b =>
      s"repeat('${hexd(b)}0', 1 + CAST(conv(substring(gh, ${2 * b + 1}, 1), 16, 10) AS INT))"
    }.mkString(",\n          ")
    docs
      .withColumn("gh", sha2(expr(group), 256))
      .select(
        col("doc_id").cast("long").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
        to_binary(expr(
          s"""concat($runs,
             |  lpad(hex(pmod(doc_id, 256)), 2, '0'))""".stripMargin),
          lit("hex")).as("payload"),
        map(lit("codec"), lit("stub")).as("meta"))
  }

  private def mediaFrom(docs: DataFrame, groupStr: Column): DataFrame =
    docs.select(
      col("doc_id").cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
      concat(
        to_binary(sha2(groupStr, 256), lit("hex")),
        to_binary(lpad(hex(pmod(col("doc_id"), lit(256))), 2, "0"),
          lit("hex"))).as("payload"),
      map(lit("codec"), lit("stub")).as("meta"))

  /** STUB decode: MEAN-CENTERED normalized 16-bin byte histogram as
    * the "feature vector" (hist/n − 1/16). Replace with a real decoder
    * (JNI image codec / resampler) without touching the surrounding
    * plan.
    *
    * Centering is load-bearing for the downstream sign-projection
    * phash: normalized histograms live on the positive simplex, so
    * against fixed random hyperplanes the constant 1/16·Σplane term
    * dominates each dot (~2× the per-doc variation) and 60-80% of the
    * 64 phash bits come out the SAME for every document — pairwise
    * hamming centered at ~12/64 instead of 32, and EVERY banding
    * scheme collides on ~14% of all pairs, turning candidate
    * generation quadratic at any geometry (measured, r13). Subtracting
    * the simplex centroid removes the bias term exactly (1/16 is a
    * power of two, so the subtraction is IEEE-exact and
    * engine-replayable) and phashes spread the way a real perceptual
    * hash spreads. Standard practice before random projection.
    */
  private def fakeDecodeFeatures(payload: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](histSize)
    if (payload != null && payload.nonEmpty) {
      payload.foreach(b => hist((b & 0xFF) / (256 / histSize)) += 1.0)
      val n = payload.length.toDouble
      var i = 0
      while (i < histSize) { hist(i) = hist(i) / n - 0.0625; i += 1 }
    }
    hist
  }

  private val featSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Batch feature extraction over the payload column: one pass per
    * partition, rows processed in partition-sized batches (the Scala
    * analog of a pandas-batched UDF).
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featSchema)
    media.select("media_id", "modality", "payload").mapPartitions { rows =>
      // per-partition init happens here (codec handle, model session, …)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        Row(r.getAs[Long]("media_id"), r.getAs[String]("modality"),
          if (payload == null) 0L else payload.length.toLong,
          fakeDecodeFeatures(payload))
      }
    }(enc)
  }

  /** Perceptual-hash NEAR-DUP over the binary media column — the
    * image/audio analog of [[Dedup.simhash]]: re-encoded, resized, or
    * lightly edited copies of the same media differ in bytes but
    * barely in decoded features, so exact fingerprints miss them.
    *
    * Pipeline: decode → feature vector ([[extractFeatures]]; the stub
    * histogram here, a real pHash/chromaprint after the codec swap) →
    * 64-bit sign-projection hash (one bit per fixed hyperplane — a
    * small feature perturbation flips few bits) → band buckets →
    * candidate pairs within buckets → exact hamming verify.
    *
    * BANDING IS CORPUS-ADAPTIVE, like [[Dedup.simhash]]'s (the
    * round-12 audit measured the fixed 8×8 scheme at 11.8× for 10×
    * media — 8-bit buckets are only 256 wide, so background
    * collisions grow as n²/256 per band):
    *
    *  - small corpora (n ≤ `comboThreshold`): 8 bands × 8-bit
    *    buckets — a pair within hamming ≤ 7 differs in at most 7
    *    bands, so at least one matches (pigeonhole-exact recall).
    *  - large corpora: 3-of-10 block-combination keys (the
    *    Manku-style scheme): 64 bits in 10 blocks; ≤ 7 differing
    *    blocks ⇒ ≥ 3 agree ⇒ the pair shares one of the C(10,3) = 120
    *    combination keys — recall still exact, each key ~19-21 bits
    *    so background collisions fall ~2000×; the explode is 120
    *    rows/media, scan-linear cost for linear candidates.
    *
    * The trade the threshold calibrates — MEASURED in r13 on the
    * realistic ~1.5%-dup-rate corpus ([[realisticMedia]]) with the
    * centered features (see [[fakeDecodeFeatures]]; before centering,
    * biased sign bits made EVERY scheme collide on ~14% of all pairs
    * and no threshold could help): a true near-dup pair collides on
    * up to 120 combination keys vs up to 8 chunks, and combo pays a
    * 120-rows/item explode for its ~2000×-smaller background. With
    * well-spread phashes the background term stays cheap far longer
    * than the old 8192 default assumed — measured chunk/combo seconds
    * at 5k / 50k / 150k items: 0.88/1.77, 1.47/7.76, 3.33/23.8 —
    * chunk sublinear through 150k and the extrapolated crossover
    * (a·n + b·n² = c·n on those points) near ~10M items per
    * modality, which the default threshold now targets. Corpora past
    * it (or with measured saturation — [[gateMedia]]-like dup
    * multiplicity moves the crossover down) should pass their own
    * threshold; the per-scheme audit keys exist to re-measure.
    *
    * Both schemes feed the same exact hamming verify on the two longs
    * riding the pair row (no join back to payloads), so the output is
    * identical under either and the oracle (brute-force hamming) is
    * scheme-independent. Pairs compare within the same modality only.
    */
  def mediaNearDup(media: DataFrame, maxHamming: Int = 7,
                   comboThreshold: Long = 8L * 1024 * 1024): DataFrame =
    mediaNearDupWith(media, maxHamming, combo = media.count() > comboThreshold)

  /** [[mediaNearDup]] with the banding scheme forced — package-visible
    * so the spec can pin both schemes value-identical on one corpus.
    */
  private[graft] def mediaNearDupWith(media: DataFrame, maxHamming: Int,
                                      combo: Boolean): DataFrame = {
    require(maxHamming <= 7,
      "pigeonhole recall (8 chunks / 3-of-10 blocks) holds only for hamming <= 7")
    // join-key repartition before the self-join (the Dedup.lshPairs
    // convention): the banded frame is narrow-derived from the media
    // scan, so under a broadcast plan the quadratic candidate join
    // would otherwise run at the input's FILE-COUNT parallelism — the
    // r13 audit caught a 10x corpus in one parquet file running the
    // whole join in a single 40-CPU-minute task
    val banded = bandedPhash(media, combo)
      .repartition(col("band"), col("bucket"), col("modality"))
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.modality") === col("y.modality") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("y.media_id").as("b"),
        col("x.phash").as("pa"), col("y.phash").as("pb"))
      // hamming verify BEFORE the dedupe: the two phash longs ride the
      // pair row, so the exact check is one codegen'd bit_count per
      // COLLISION — filtering first means the distinct's exchange
      // carries only true near-dups (× band multiplicity) instead of
      // every background bucket collision. Same output set: hamming
      // is a function of (a, b).
      .withColumn("hamming",
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
      .distinct()
      .orderBy("a", "b")
  }

  /** The banded phash table the near-dup joins on, factored out so
    * the in-query form and the persisted index share one definition.
    * Both schemes emit the SAME (media_id, modality, phash, band,
    * bucket) shape, so the index schema, bucket spec, and every
    * probe/append/compact path are scheme-agnostic; the scheme only
    * decides how many (band, bucket) rows a hash explodes into and
    * how wide the bucket key space is.
    */
  private def bandedPhash(media: DataFrame, combo: Boolean): DataFrame = {
    val phash = graft.plans.HashExprs.signProjBits(
      col("features"), Dedup.hyperplanes(64, histSize))
    val hashed = extractFeatures(media)
      .select(col("media_id"), col("modality"), phash.as("phash"))
    val bands: Seq[Column] =
      if (!combo)
        (0 until 8).map(b =>
          shiftrightunsigned(col("phash"), b * 8).bitwiseAND(lit(0xFFL)))
      else {
        val bounds = (0 to 10).map(i => i * 64 / 10)
        def block(i: Int): Column = {
          val mask = (1L << (bounds(i + 1) - bounds(i))) - 1L
          shiftrightunsigned(col("phash"), bounds(i)).bitwiseAND(lit(mask))
        }
        // pack each combination's three blocks into 7-bit lanes (max
        // block width at 10 blocks is 7)
        (0 until 10).combinations(3).toSeq.map(_.foldLeft(lit(0L))(
          (acc, i) => shiftleft(acc, 7).bitwiseOR(block(i))))
      }
    hashed
      .select(col("media_id"), col("modality"), col("phash"),
        posexplode(array(bands: _*)))
      .toDF("media_id", "modality", "phash", "band", "bucket")
  }

  /** Persist the banded perceptual-hash table bucketed on the
    * candidate join key — the media analog of
    * [[Dedup.writeMinhashIndex]]: decode + phash paid once at ingest,
    * every later near-dup check joins co-bucketed files. The bucket
    * columns are EXACTLY the candidate joins' equi-key set
    * (band, bucket, modality — the planner keeps the exchange-free
    * bucketed scan only when the join keys match the bucket spec, the
    * writeMinhashIndex lesson; a (band, bucket)-only spec re-shuffles
    * on all three keys). The BANDING SCHEME is chosen from the corpus
    * size ([[mediaNearDup]]'s adaptive rule; `comboThreshold = 0`
    * forces combinations) and RECORDED in table properties — every
    * incremental probe and append must band its batch the way the
    * index did, so the scheme is index geometry, not a per-call
    * choice (the graft.embed.w convention).
    */
  def writeMediaPhashIndex(media: DataFrame, table: String, numBuckets: Int = 8,
                           comboThreshold: Long = 8L * 1024 * 1024): Unit = {
    graft.sources.IndexMaintenance.resetTableIndexSides(
      media.sparkSession, table) // full rebuild drops side artifacts
    val combo = media.count() > comboThreshold
    graft.sources.Sinks.writeBucketed(
      bandedPhash(media, combo), table, Seq("band", "bucket", "modality"), numBuckets)
    media.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('graft.phash.scheme'='${if (combo) "combo10" else "chunk8"}')")
  }

  /** The banding scheme a media phash index RECORDED — pre-scheme
    * tables (no property) banded 8×8 chunks.
    */
  private def indexScheme(spark: org.apache.spark.sql.SparkSession,
                          table: String): Boolean =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .exists(r => r.getString(0) == "graft.phash.scheme" &&
        r.getString(1) == "combo10")

  /** Index MAINTENANCE: append an arriving media batch's banded phash
    * rows to the persisted index — the
    * [[Dedup.appendToMinhashIndex]] check→extend loop for the media
    * family: decode + phash the batch once, extend the co-bucketed
    * band table, and the NEXT incremental check
    * ([[mediaNearDupAgainstIndex]]) sees this batch. The banding
    * scheme is read from the `graft.phash.scheme` table property —
    * the index GEOMETRY recorded at build time — so the batch bands
    * exactly the way the index did whichever scheme the corpus size
    * picked ([[writeMediaPhashIndex]]); the remaining drift axis is
    * the bucket layout, which Spark itself validates at append time.
    */
  def appendToMediaPhashIndex(newMedia: DataFrame, table: String,
                              numBuckets: Int = 8): Unit =
    graft.sources.IndexMaintenance.withTableWriterLease(
      newMedia.sparkSession, table) {
      graft.sources.Sinks.appendBucketed(
        mediaAppendRows(newMedia, table),
        table, Seq("band", "bucket", "modality"), numBuckets)
    }

  /** The batch's banded phash rows per the scheme the index RECORDED —
    * the STAGE step shared by [[appendToMediaPhashIndex]] and the
    * exactly-once streaming append.
    */
  private[graft] def mediaAppendRows(newMedia: DataFrame,
                                     table: String): DataFrame =
    bandedPhash(newMedia, indexScheme(newMedia.sparkSession, table))

  /** Media takedown for the phash index — merge-on-read tombstones
    * (the shared [[graft.sources.IndexMaintenance]] mechanism, keyed
    * on media_id): the payload's bands drop out of every later
    * near-dup check at O(batch) cost.
    */
  def deleteFromMediaPhashIndex(spark: org.apache.spark.sql.SparkSession,
                                table: String, ids: DataFrame): Unit =
    graft.sources.IndexMaintenance.tombstone(spark, table, ids, "media_id")

  /** Fold phash tombstones into the bucketed band files — preserving
    * the FULL (band, bucket, modality) bucket spec the writer uses: a
    * narrower rewrite would silently re-shuffle every later indexed
    * self-join and incremental probe on all three keys, losing the
    * zero-exchange contract (spec-pinned post-compact).
    */
  def compactMediaPhashIndex(spark: org.apache.spark.sql.SparkSession,
                             table: String, numBuckets: Int = 8): Unit =
    graft.sources.IndexMaintenance.compact(spark, table, "media_id") { (live, tmp) =>
      graft.sources.Sinks.rewriteBucketed(live, tmp,
        Seq("band", "bucket", "modality"), numBuckets)
    }

  /** [[mediaNearDup]] over the persisted phash index — fully
    * INDEX-RESIDENT: the phash rides the band rows, so the candidate
    * self-join and the hamming verify touch only co-bucketed index
    * files (zero exchanges, spec-pinned) and payloads are never
    * re-decoded — the recurring media-dedup job reads the narrow
    * (id, modality, phash, band, bucket) table only. Tombstoned
    * takedowns drop out via [[graft.sources.IndexMaintenance]]'s
    * live-rows view. Same output contract as the direct form
    * (shared oracle).
    */
  def mediaNearDupIndexed(spark: org.apache.spark.sql.SparkSession,
                          table: String, maxHamming: Int = 7): DataFrame = {
    require(maxHamming <= 7,
      "pigeonhole recall (8 chunks / 3-of-10 blocks) holds only for hamming <= 7")
    val banded = graft.sources.IndexMaintenance.liveRows(spark, table, "media_id")
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.modality") === col("y.modality") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("y.media_id").as("b"),
        col("x.phash").as("pa"), col("y.phash").as("pb"))
      // hamming verify BEFORE the dedupe: the two phash longs ride the
      // pair row, so the exact check is one codegen'd bit_count per
      // COLLISION — filtering first means the distinct's exchange
      // carries only true near-dups (× band multiplicity) instead of
      // every background bucket collision. Same output set: hamming
      // is a function of (a, b).
      .withColumn("hamming",
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
      .distinct()
      .orderBy("a", "b")
  }

  def mediaNearDupAgainstIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                               newMedia: DataFrame, maxHamming: Int = 7): DataFrame = {
    require(maxHamming <= 7,
      "pigeonhole recall (8 chunks / 3-of-10 blocks) holds only for hamming <= 7")
    bandedPhash(newMedia, indexScheme(spark, table)).as("x")
      .join(graft.sources.IndexMaintenance.liveRows(spark, table, "media_id").as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.modality") === col("y.modality") &&
          col("x.media_id") =!= col("y.media_id"))
      .select(col("x.media_id").as("a"), col("y.media_id").as("b"),
        col("x.phash").as("pa"), col("y.phash").as("pb"))
      // hamming verify BEFORE the dedupe: the two phash longs ride the
      // pair row, so the exact check is one codegen'd bit_count per
      // COLLISION — filtering first means the distinct's exchange
      // carries only true near-dups (× band multiplicity) instead of
      // every background bucket collision. Same output set: hamming
      // is a function of (a, b).
      .withColumn("hamming",
        bit_count(col("pa").bitwiseXOR(col("pb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
      .distinct()
      .orderBy("a", "b")
  }

  /** "Resize" stage over the feature column — the stub analog of image
    * downsampling (a real pipeline resizes decoded pixels; the stub
    * re-bins the histogram features by summing adjacent bins, which is
    * exactly what area-average downsampling does to a distribution).
    * Columnar (`aggregate` over index slices — codegen'd, no UDF), so
    * the stage adds scan work only; output width = histSize / factor.
    */
  def resizeFeatures(feats: DataFrame, factor: Int = 2): DataFrame = {
    require(factor > 0 && histSize % factor == 0,
      s"factor must divide the feature width $histSize")
    val out = histSize / factor
    feats.withColumn("features_resized",
      expr(s"transform(sequence(0, ${out - 1}), b -> " +
        s"aggregate(slice(features, b * $factor + 1, $factor), 0.0D, (acc, x) -> acc + x))"))
  }

  /** EXACT media dedup by payload digest — the cheap first pass in
    * front of [[mediaNearDup]] (byte-identical re-uploads are the
    * bulk of media duplication; the perceptual pass only needs to see
    * digest-distinct survivors). Hash-groupBy on md5(payload), keep
    * the lowest id as canonical — the [[Dedup.exact]] contract on the
    * binary column. One shuffle on the digest; payload bytes never
    * move (the digest is computed scan-side).
    */
  def mediaExactDup(media: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    media
      .select(col("media_id"), col("modality"), md5(col("payload")).as("digest"))
      .withColumn("canonical_id",
        min("media_id").over(Window.partitionBy("digest")))
      .withColumn("is_dup", col("media_id") =!= col("canonical_id"))
      .orderBy("media_id")
  }

  /** Deterministic frame sampling: every `stride`-th byte window of the
    * payload becomes a "frame" (the video frame-sample pattern with the
    * codec stubbed — a real pipeline swaps the byte slice for a decoded
    * frame). posexplode keeps frame index; slicing is columnar.
    */
  def sampleFrames(media: DataFrame, stride: Int, frameLen: Int): DataFrame =
    media
      .filter(col("modality") === "video" && length(col("payload")) >= frameLen)
      .select(col("media_id"),
        posexplode(transform(
          sequence(lit(0), floor((length(col("payload")) - frameLen) / stride).cast("int")),
          i => col("payload").substr(i * stride + 1, lit(frameLen)))))
      .toDF("media_id", "frame_idx", "frame")
}
