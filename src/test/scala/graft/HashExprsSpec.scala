package graft

import org.apache.spark.sql.functions._
import graft.plans.HashExprs
import graft.sources.Sinks

/** Specs for the compiled sketch expressions and their SQL surface. */
class HashExprsSpec extends SparkSpec {

  test("pca_power_step is bit-equal to the posexplode + group-by SQL form") {
    import spark.implicits._
    // the SQL form the fused aggregate replaced — kept here verbatim
    // as the semantic pin (sequential double fold, round6, decimal
    // cast, exact per-dim decimal sum)
    def sqlForm(emb: org.apache.spark.sql.DataFrame,
                v: Array[Double]): Array[java.math.BigDecimal] = {
      val vLit = array(v.map(lit(_)): _*)
      emb.withColumn("dot",
          round(aggregate(zip_with(col("e"), vLit, (a, b) => a * b),
            lit(0.0), (acc, x) => acc + x), 6))
        .select(col("dot"), posexplode(col("e")).as(Seq("dim", "x")))
        .select(col("dim"),
          round(col("x") * col("dot"), 6).cast("decimal(28,6)").as("c"))
        .groupBy("dim").agg(sum("c").as("w"))
        .orderBy("dim").collect()
        .map(_.getDecimal(1))
    }
    def aggForm(emb: org.apache.spark.sql.DataFrame,
                v: Array[Double]): Array[java.math.BigDecimal] =
      emb.select(graft.plans.SketchAggs.pcaPowerStep(col("e"), v).as("w"))
        .head().getSeq[java.math.BigDecimal](0).toArray
    // real corpus embeddings
    val emb = sources.Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>").as("e"))
    val d = emb.select(size(col("e"))).head().getInt(0)
    val v0 = Array.fill(d)(BigDecimal.valueOf(1.0 / math.sqrt(d.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(aggForm(emb, v0).toSeq === sqlForm(emb, v0).toSeq)
    // adversarial synthetic: mixed signs/magnitudes across multiple
    // partitions (exercises partial merge), plus a second v
    val rnd = new scala.util.Random(7)
    val syn = (1 to 500).map { _ =>
      Array.fill(8)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(5) - 2))
    }.toDF("e").repartition(4)
    val v1 = Array.tabulate(8)(i => (i + 1) * 0.137 - 0.5)
    assert(aggForm(syn, v1).toSeq === sqlForm(syn, v1).toSeq)
    val v2 = Array.fill(8)(0.0)
    assert(aggForm(syn, v2).toSeq === sqlForm(syn, v2).toSeq)
  }

  test("centroid_sums is bit-equal to the posexplode + group-by SQL form") {
    import spark.implicits._
    def sqlForm(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, java.math.BigDecimal, Long)] =
      df.select(col("list_id"), posexplode(col("embedding")))
        .groupBy(col("list_id"), col("pos"))
        .agg(sum(col("col").cast("decimal(28,12)")).as("s"), count(lit(1)).as("n"))
        .orderBy("list_id", "pos").collect()
        .map(r => (r.getAs[Int]("list_id"), r.getAs[Int]("pos"),
          r.getAs[java.math.BigDecimal]("s"), r.getAs[Long]("n"))).toSeq
    def aggForm(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, java.math.BigDecimal, Long)] =
      df.select(graft.plans.SketchAggs.centroidSums(
          col("list_id"), col("embedding")).as("cs"))
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getAs[Int]("list_id"), r.getAs[Int]("pos"),
          r.getAs[java.math.BigDecimal]("s"), r.getAs[Long]("n")))
    // real corpus (float-array embeddings) under a head codebook
    val emb = sources.Tables.embeddings(spark, sfDir)
    val cents = graft.operators.Similarity.headCodebook(emb, 4)
    val assigned = emb.select(
      HashExprs.nearestCentroid(col("embedding"), cents).as("list_id"),
      col("embedding"))
    assert(aggForm(assigned) === sqlForm(assigned))
    // adversarial synthetic doubles: mixed magnitudes/signs, ragged
    // lengths, null elements, several partitions (partial merge path)
    val rnd = new scala.util.Random(11)
    val syn = (1 to 400).map { i =>
      (i % 5, Array.tabulate(if (i % 7 == 0) 3 else 6)(j =>
        if ((i + j) % 13 == 0) null
        else java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(6) - 2))))
    }.toDF("list_id", "embedding").repartition(4)
    assert(aggForm(syn) === sqlForm(syn))
  }

  test("minhash signature estimates Jaccard and lanes are independent") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog and runs far away today"
    val b = a + " extra"
    val df = Seq((a, b)).toDF("a", "b").select(
      HashExprs.minhashText(col("a"), 5, 256, word = false).as("sa"),
      HashExprs.minhashText(col("b"), 5, 256, word = false).as("sb"),
      HashExprs.jaccardText(col("a"), col("b"), 5, word = false).as("j"))
    val row = df.head()
    val sa = row.getAs[scala.collection.Seq[Long]]("sa")
    val sb = row.getAs[scala.collection.Seq[Long]]("sb")
    val j = row.getAs[Double]("j")
    // distinct lane values — a degenerate permutation family collapses
    // every lane to the same min (the (a*h+b) mod-no-op failure mode)
    assert(sa.distinct.size > 200)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.size
    assert(math.abs(est - j) < 0.15, s"minhash estimate $est vs true $j")
  }

  test("jaccard_text matches a hand-computed shingle Jaccard") {
    import spark.implicits._
    // char 2-shingles: "abcd" -> {ab,bc,cd}; "bcde" -> {bc,cd,de}
    // intersection {bc,cd} = 2, union {ab,bc,cd,de} = 4 -> 0.5
    val j = Seq(("abcd", "bcde")).toDF("a", "b")
      .select(HashExprs.jaccardText(col("a"), col("b"), 2, word = false))
      .head().getDouble(0)
    assert(j === 0.5)
    // word 2-grams: "x y z" vs "x y w" -> {"x y","y z"} vs {"x y","y w"} -> 1/3
    val jw = Seq(("x y z", "x y w")).toDF("a", "b")
      .select(HashExprs.jaccardText(col("a"), col("b"), 2, word = true))
      .head().getDouble(0)
    assert(math.abs(jw - 1.0 / 3.0) < 1e-12)
  }

  test("simhash64 is deterministic and identical for identical token sets") {
    import spark.implicits._
    val out = Seq("a b c d e f", "a b c d e f", "q r s t u v")
      .toDF("t")
      .select(HashExprs.simhash64(split(col("t"), " ")).as("s"))
      .collect().map(_.getLong(0))
    assert(out(0) === out(1))
    assert(out(0) !== out(2))
  }

  test("cosine_sim handles float arrays, orthogonal and identical vectors") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
                 (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
                 (Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
      .select(HashExprs.cosineSim(col("a"), col("b")).as("c"))
    assert(df.collect().map(_.getDouble(0)).toSeq === Seq(1.0, 0.0, 0.0))
  }

  test("sketch functions are callable from SQL via GraftExtensions") {
    val c = spark.sql("SELECT cosine_sim(array(1.0D, 2.0D), array(1.0D, 2.0D)) AS c")
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    // array_scan parses its lambda through the ordinary SQL path (the
    // parser converts body identifiers to lambda variables itself)
    val sc = spark.sql("SELECT array_scan(array(1L, 2L, 3L), 0L, (a, x) -> a + x) AS t")
      .head().getAs[scala.collection.Seq[Long]]("t")
    assert(sc.toSeq === Seq(0L, 1L, 3L, 6L))
    val j = spark.sql("SELECT jaccard_text('abcd', 'bcde', 2, false) AS j")
      .head().getDouble(0)
    assert(j === 0.5)
    val sig = spark.sql("SELECT minhash_text('hello world of spark', 5, 16, false) AS s")
      .head().getAs[scala.collection.Seq[Long]]("s")
    assert(sig.size === 16)
    val sh = spark.sql("SELECT simhash64(split('a b c', ' ')) AS h").head().getLong(0)
    assert(sh !== 0L)
    val ng = spark.sql("SELECT word_ngrams('a b c d', 3) AS g")
      .head().getAs[scala.collection.Seq[String]]("g")
    assert(ng.toSeq === Seq("a b c", "b c d"))
    val rs = spark.sql("SELECT repetition_stats('a b a b a') AS s").head()
      .getStruct(0)
    assert(rs.getAs[Long]("n_words") === 5L)
    assert(rs.getAs[Long]("top_bigram_count") === 2L)
    val rm = spark.sql("SELECT remove_spans('a b c d e', array(1L), 3) AS r").head()
      .getStruct(0)
    assert(rm.getAs[String]("kept_text") === "a e")
    assert(rm.getAs[Long]("n_removed") === 3L)
    val bp = spark.sql("SELECT bpe_encode('tab scan', array('t a', 'ta b')) AS b")
      .head().getStruct(0)
    assert(bp.getAs[String]("encoded") === "tab s c a n")
    assert(bp.getAs[Long]("n_tokens") === 5L)
    // malformed merge strings must fail loudly, not mis-split
    intercept[Exception] {
      spark.sql("SELECT bpe_encode('x', array('a b c')) AS b").head()
    }
    // kendall_stats: [1,3,2,3] -> pairs (+1,+1,+1,-1,0,+1) = cd 3, ties 1
    val ks = spark.sql("SELECT kendall_stats(array(1L, 3L, 2L, 3L)) AS k").head()
      .getStruct(0)
    assert(ks.getAs[Long]("cd") === 3L)
    assert(ks.getAs[Long]("ties") === 1L)
    // null elements must fail fast, not silently read as 0 through
    // toLongArray()'s bitmap-blind copy
    val nullErr = intercept[Exception] {
      spark.sql("SELECT kendall_stats(array(1L, NULL, 3L)) AS k").head()
    }
    assert(nullErr.getMessage.contains("null element") ||
      Option(nullErr.getCause).exists(_.getMessage.contains("null element")),
      s"expected a null-element error, got: ${nullErr.getMessage}")
  }

  test("ivf top-k scores consistently with brute force on shared ids") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val brute = operators.Similarity.bruteForceTopK(emb, 0L, 20)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
    val ivf = operators.Similarity.ivfTopK(emb, 0L, 20).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      brute.get(r.getAs[Long]("vec_id"))
        .foreach(b => assert(math.abs(b - r.getAs[Double]("cos_sim")) < 1e-9))
    }
    // probing all lists must recover the exact brute-force top-k
    val full = operators.Similarity.ivfTopK(emb, 0L, 20, nCentroids = 8, nProbe = 8)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val bruteIds = operators.Similarity.bruteForceTopK(emb, 0L, 20)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(full === bruteIds)
  }

  test("exact-guarantee ivf equals brute force on an unclustered corpus") {
    // the testdata embeddings have NO cluster structure — the worst
    // case for IVF pruning — so equality here exercises the fallback
    // bound logic, not luck
    val emb = sources.Tables.embeddings(spark, sfDir)
    for (q <- Seq(0L, 7L, 123L)) {
      val exact = operators.Similarity.ivfTopKExact(emb, q, 15, nProbe = 3)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      val brute = operators.Similarity.bruteForceTopK(emb, q, 15)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
      assert(exact === brute, s"query $q")
    }
  }

  test("trained codebook reaches high recall at low nProbe on clustered data") {
    import spark.implicits._
    // 16 well-separated clusters of 30 points each: the corpus shape
    // IVF is FOR. A trained codebook should route a query's top-10 to
    // a handful of lists; nProbe=4 of 16 must catch ≥ 90%.
    def lcg(seed: Long): Iterator[Double] = Iterator.iterate(seed)(x =>
      x * 6364136223846793005L + 1442695040888963407L)
      .map(x => ((x >>> 11).toDouble / (1L << 53).toDouble) - 0.5).drop(1)
    val dim = 8
    val rows = (for {
      c <- 0 until 16
      i <- 0 until 30
    } yield {
      val center = lcg(c * 7919L + 1).take(dim).map(_ * 10).toArray
      val noise = lcg(c * 104729L + i * 31L + 7).take(dim).toArray
      ((c * 30 + i).toLong, center.zip(noise).map { case (a, b) => (a + b).toFloat })
    }).toDF("vec_id", "embedding")
    val brute = operators.Similarity.bruteForceTopK(rows, 0L, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val got = operators.Similarity.ivfTopK(rows, 0L, 10, nCentroids = 16, nProbe = 4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (got & brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall@10 = $recall")
    // and the exact variant must be perfect even at nProbe=1
    val ex = operators.Similarity.ivfTopKExact(rows, 0L, 10, nCentroids = 16, nProbe = 1)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(ex === brute)
  }

  test("batch top-k matches single-query brute force per query, with rank pushdown") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val batch = operators.Similarity.batchTopK(emb, queryMod = 50, k = 5)
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k must push the rank limit into the window:\n$plan")
    val forQuery0 = batch.filter(col("query_id") === 0L)
      .select("vec_id", "cos_sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val direct = operators.Similarity.bruteForceTopK(emb, 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(forQuery0 === direct)
  }

  test("filtered vector search equals brute force restricted to the predicate subset") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val qLabel = emb.filter(col("vec_id") === 0L).head().getAs[Int]("label")
    val filtered = operators.Similarity.filteredTopK(emb, 0L, 10).collect()
    assert(filtered.nonEmpty)
    assert(filtered.forall(_.getAs[Int]("label") == qLabel),
      "every result must satisfy the metadata predicate")
    // pre-filter == brute force over the predicate subset (never a
    // post-filtered global top-k, which would under-return)
    val subset = operators.Similarity
      .bruteForceTopK(emb.filter(col("label") === qLabel), 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(filtered.map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Double]("cos_sim"))).toSeq === subset)
    // plan shape: one corpus scan, broadcast query row, top-k as
    // TakeOrdered — no corpus shuffle
    val plan = operators.Similarity.filteredTopK(emb, 0L, 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"filtered search must not shuffle the corpus:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("int8 top-k tracks the float top-k closely (storage-precision recall)") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val k = 20
    for (q <- Seq(0L, 7L)) {
      val fl = operators.Similarity.bruteForceTopK(emb, q, k)
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
      val i8 = operators.Similarity.int8TopK(emb, q, k)
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos_sim")).toMap
      // recall@k: int8 quantization perturbs each cosine by O(1/127);
      // on 64-dim data the top-k sets should mostly agree
      val recall = (i8.keySet & fl.keySet).size.toDouble / k
      assert(recall >= 0.8, s"query $q: recall@$k = $recall")
      // and on shared ids the scores agree to quantization error
      (i8.keySet & fl.keySet).foreach { id =>
        assert(math.abs(i8(id) - fl(id)) <= 0.02,
          s"query $q id $id: i8=${i8(id)} float=${fl(id)}")
      }
    }
  }

  test("ivf exact releases its cached index once the result is materialized") {
    val emb = sources.Tables.embeddings(spark, sfDir)
    val res = operators.Similarity.ivfTopKExact(emb, 0L, 10, nProbe = 2)
    assert(res.count() === 10)
    // the in-query index cache is an ingest-time stand-in; it must not
    // outlive the call (a long-lived session would pin one corpus copy
    // per query otherwise). Asserted on THIS call's handle, not the
    // session-global cache manager (concurrent suites share it)
    def released(): Boolean = Option(operators.Similarity.lastIndexCache.get())
      .forall(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(released(), "ivfTopKExact left its corpus index pinned after returning")
    // missing query id: the empty-result early return must release too
    assert(operators.Similarity.ivfTopKExact(emb, -1L, 10).count() === 0)
    assert(released())
  }

  test("every custom expression stays inside whole-stage codegen") {
    // a CodegenFallback anywhere in a projection prints the Project
    // OUTSIDE any codegen stage (no "*(n)" marker) and un-fuses every
    // other expression in it — so each family is stacked into ONE
    // projection and the plan must still carry the fused marker
    // build is BY-NAME and re-invoked for the interpreted run: a
    // Dataset caches its executedPlan, so collecting the same instance
    // under a flipped conf would silently reuse the codegen'd plan and
    // compare the generated path to itself. NO_CODEGEN additionally
    // forces InterpretedUnsafeProjection (with wholeStage off alone,
    // expression-level codegen still runs), so the second collect
    // really exercises nullSafeEval.
    def assertFused(build: => org.apache.spark.sql.DataFrame, marker: String): Unit = {
      val df = build
      val plan = df.queryExecution.executedPlan.toString
      val projLine = plan.linesIterator.find(_.contains(marker)).getOrElse("")
      assert(projLine.trim.startsWith("*("),
        s"projection with $marker fell out of whole-stage codegen:\n$plan")
      // generated path must produce byte-identical values to interpreted
      val gen = df.collect().sortBy(_.getLong(0))
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = try {
        val fresh = build
        val freshPlan = fresh.queryExecution.executedPlan.toString
        assert(!freshPlan.linesIterator.exists(_.trim.startsWith("*(")),
          s"interpreted run still planned whole-stage codegen:\n$freshPlan")
        fresh.collect().sortBy(_.getLong(0))
      } finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
      assert(gen.toSeq === interp.toSeq)
    }

    val docs = sources.Tables.documents(spark, sfDir)
    val nt = graft.functions.TextAnalysis.normalizeWs(col("text"))
    // filter, not orderBy+limit: TakeOrderedAndProject hosts its
    // projection outside codegen and would mask the thing under test.
    // defs, not vals: assertFused re-builds for the interpreted run
    def textProj = docs.filter(col("doc_id") < 50).select(col("doc_id"),
      plans.HashExprs.minhashText(nt, 5, 16, word = false).as("sig"),
      plans.HashExprs.stopwordHits(lower(col("text")), Seq("the", "a", "of")).as("hits"),
      plans.HashExprs.jaccardText(nt, reverse(nt), k = 5, word = false).as("jac"),
      plans.HashExprs.simhash64(split(lower(nt), " ")).as("sh"),
      plans.HashExprs.wordNgrams(nt, 3).as("grams"),
      plans.HashExprs.removeSpans(nt, lit(Array(0L, 4L)), 3).as("spans"),
      plans.HashExprs.repetitionStats(nt).as("rep"),
      plans.HashExprs.bpeEncode(nt,
        Seq("t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e")).as("bpe"),
      plans.HashExprs.langSegments(lower(nt), 16,
        Seq("en" -> Seq("the", "of"), "id" -> Seq("yang", "dan"))).as("segs"),
      plans.XmlExprs.xmlLeafMap(col("text")).as("xml"),
      plans.HashExprs.kendallStats(
        plans.HashExprs.minhashText(nt, 5, 16, word = false)).as("kend"),
      length(col("text")).as("len"))
    assertFused(textProj, "minhash_text")

    val emb = sources.Tables.embeddings(spark, sfDir)
    val planes = Seq(Seq(1.0, -0.5, 0.25), Seq(-1.0, 0.75, 0.5))
    val cents = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    // two routed cells with ragged fine books (2 and 1 centroids)
    val books = spark.sparkContext.broadcast(plans.RoutedBooks(cents,
      Array(Array(Array(0.0, 0.0), Array(0.5, 0.5)), Array(Array(1.0, 1.0))),
      Array(0, 2)))
    val q8 = plans.HashExprs.quantizeI8(col("embedding"))
    def vecProj = emb.filter(col("vec_id") < 50).select(col("vec_id"),
      plans.HashExprs.cosineSim(col("embedding"), reverse(col("embedding"))).as("cos"),
      plans.HashExprs.signProjBits(col("embedding"), planes).as("bits"),
      plans.HashExprs.nearestCentroid(col("embedding"), cents).as("cent"),
      plans.HashExprs.twoLevelAssign(col("embedding"), books).as("two_level"),
      plans.HashExprs.quantizeI8Stats(col("embedding")).as("qstats"),
      q8.as("q8"),
      plans.HashExprs.cosineSimI8(q8, q8).as("cos8"),
      plans.HashExprs.l2Normalize(col("embedding")).as("l2"))
    assertFused(vecProj, "cosine_sim")
  }

  test("remove_spans handles empty text, overlap merge, and out-of-range starts") {
    import spark.implicits._
    def run(text: String, starts: Seq[Long], n: Int = 3): (String, Long, Long) = {
      val r = Seq(text).toDF("t")
        .select(plans.HashExprs.removeSpans(col("t"),
          lit(starts.toArray), n).as("r"))
        .select("r.kept_text", "r.n_tokens", "r.n_removed").head()
      (r.getString(0), r.getLong(1), r.getLong(2))
    }
    // empty text: zero tokens, not one empty token
    assert(run("", Seq(0L)) === (("", 0L, 0L)))
    // no spans: text passes through
    assert(run("a b c d e", Seq.empty) === (("a b c d e", 5L, 0L)))
    // overlapping spans [0,3) and [2,5) merge to [0,5)
    assert(run("a b c d e f", Seq(0L, 2L)) === (("f", 6L, 5L)))
    // a start past the last token removes nothing
    assert(run("a b c", Seq(7L)) === (("a b c", 3L, 0L)))
    // span overrunning the end clips at the last token
    assert(run("a b c d", Seq(2L)) === (("a b", 4L, 2L)))
    // a null span start must ERROR, not silently remove wrong tokens
    // (remove_spans is a public SQL function; a null slot would
    // otherwise read as an undefined value, typically 0)
    val e = intercept[Exception] {
      spark.sql("SELECT remove_spans('a b c d e', array(CAST(NULL AS BIGINT)), 3)").head()
    }
    def rootMsg(t: Throwable): String =
      (Option(t.getMessage).getOrElse("")) +
        Option(t.getCause).map(rootMsg).getOrElse("")
    assert(rootMsg(e).contains("null span start"), s"unexpected error: $e")
  }

  test("co-bucketed tables join without a shuffle exchange") {
    // broadcast off so the assertion is about bucketing, not broadcast
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS g_orders_b")
      spark.sql("DROP TABLE IF EXISTS g_lineitem_b")
      // a stale managed-table location (killed run) blocks CREATE
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      Seq("g_orders_b", "g_lineitem_b").foreach { t =>
        val dir = new java.io.File(wh, t)
        if (dir.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete()
          }
          rm(dir)
        }
      }
      Sinks.writeBucketed(sources.Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice"), "g_orders_b", Seq("o_orderkey"), 4)
      Sinks.writeBucketed(sources.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_extendedprice"), "g_lineitem_b", Seq("l_orderkey"), 4)
      val joined = spark.table("g_orders_b")
        .join(spark.table("g_lineitem_b"), col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() > 0)
      // control: joining against the unbucketed parquet shuffles that side
      val plain = sources.Tables.lineitem(spark, sfDir).select("l_orderkey", "l_extendedprice")
      val mixed = spark.table("g_orders_b")
        .join(plain, col("o_orderkey") === col("l_orderkey"))
      assert(mixed.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("persisted minhash index self-joins shuffle-free and reproduces direct LSH pairs") {
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS g_minhash_idx")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val dir = new java.io.File(wh, "g_minhash_idx")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
      val docs = sources.Tables.documents(spark, sfDir)
      operators.Dedup.writeMinhashIndex(docs, "g_minhash_idx")
      // the candidate self-join over the bucketed index: the bucket
      // layout is the exchange, paid at ingest — the query plans none
      val cand = operators.Dedup.bucketCandidates(spark.table("g_minhash_idx"))
      val plan = cand.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"persisted-index self-join should not shuffle:\n$plan")
      assert(cand.count() > 0)
      // same pairs as computing signatures from the corpus in-query
      val indexed = operators.Dedup.minhashLshIndexed(spark, "g_minhash_idx", docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val direct = operators.Dedup.minhashLsh(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(indexed === direct)
      assert(indexed.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("embed band width: occupancy-pinning formula across corpus sizes") {
    // gate scales (sf0.01 ~200 vecs, sf0.1 ~2000) must stay at the
    // historical 4 bits — the static oracle replays 4x4-bit bands —
    // while the width grows one bit per doubling past target*16
    def w(n: Long) = operators.Dedup.embedBandWidth(n, 128)
    assert(w(0) === 4 && w(200) === 4 && w(2000) === 4)
    assert(w(2048) === 4)        // 2048/128 = 16 -> ceil(log2) = 4
    assert(w(2176) === 5)        // first corpus past the 4-bit domain (q = 17)
    assert(w(20000) === 8)       // the 10x audit scale
    assert(w(1000000) === 13)
    assert(w(Long.MaxValue / 2) === 16)  // clamp: 4 bands x 16 <= 64 planes
  }

  test("persisted embed band index: zero-exchange candidates, matching direct") {
    spark.sql("DROP TABLE IF EXISTS g_embed_band_idx")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(wh, "g_embed_band_idx"))
    val emb = sources.Tables.embeddings(spark, sfDir)
    operators.Dedup.writeEmbedBandIndex(emb, "g_embed_band_idx")
    // the candidate self-join over the bucketed index: the bucket
    // layout is the exchange, paid at ingest — the query plans none
    // (broadcast disabled so the planner must lean on the buckets,
    // the same pin as the minhash-index spec)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cand = operators.Dedup.bucketCandidatePairs(spark.table("g_embed_band_idx"))
      val plan = cand.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"persisted-index self-join should not shuffle:\n$plan")
      assert(cand.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    // same verified pairs as projecting signatures from vectors in-query
    val indexed = operators.Dedup
      .embeddingNearDupIndexed(spark, "g_embed_band_idx", emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = operators.Dedup.embeddingNearDup(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed === direct)
    assert(indexed.nonEmpty)
    // the width the index recorded matches what the corpus size implies
    val props = spark.sql("SHOW TBLPROPERTIES g_embed_band_idx")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.embed.w").toInt >= 4)
    // takedown: tombstoning one side of a known pair removes its pairs;
    // compaction folds the delete in and carries the geometry props
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS g_embed_band_idx_tombstones")
    rm(new java.io.File(wh, "g_embed_band_idx_tombstones"))
    rm(new java.io.File(wh, "g_embed_band_idx_compact_tmp"))
    val victim = indexed.head._1
    operators.Dedup.deleteFromEmbedBandIndex(spark, "g_embed_band_idx",
      Seq(victim).toDF("vec_id"))
    val afterDelete = operators.Dedup
      .embeddingNearDupIndexed(spark, "g_embed_band_idx", emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!afterDelete.exists(p => p._1 == victim || p._2 == victim))
    operators.Dedup.compactEmbedBandIndex(spark, "g_embed_band_idx")
    assert(!spark.catalog.tableExists("g_embed_band_idx_tombstones"))
    val afterCompact = operators.Dedup
      .embeddingNearDupIndexed(spark, "g_embed_band_idx", emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterCompact === afterDelete)
    val props2 = spark.sql("SHOW TBLPROPERTIES g_embed_band_idx")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props2("graft.embed.w") === props("graft.embed.w"))
    // append→check loop (after compaction, so the whole lifecycle is
    // one chain): batch 1 is a re-upload of a live corpus vector,
    // appended at the index's RECORDED geometry; batch 2 (same vector
    // again) must be flagged against both the original and the
    // appended batch-1 row by the next incremental check
    val orig = afterCompact.head._1
    def reupload(id: Long) = emb.filter(col("vec_id") === orig)
      .select(lit(id).as("vec_id"), col("embedding"))
    operators.Dedup.appendToEmbedBandIndex(spark, "g_embed_band_idx", reupload(900001L))
    val haystack = emb.select("vec_id", "embedding")
      .unionByName(reupload(900001L)).unionByName(reupload(900002L))
    val nextCheck = operators.Dedup.embeddingNearDupAgainstIndex(
      spark, "g_embed_band_idx", reupload(900002L), haystack)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nextCheck.contains((900002L, 900001L)),
      s"appended vector not matched by the next check: $nextCheck")
    assert(nextCheck.contains((900002L, orig)))
    // appending keeps the bucket layout: candidate self-join still
    // plans zero exchanges with broadcast denied
    val prevBc2 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = operators.Dedup
        .bucketCandidatePairs(spark.table("g_embed_band_idx"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"append broke the bucket layout:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc2)
    // geometry drift (a different dim than the index records) is an
    // error, not silent bucket-key corruption
    val drift = intercept[IllegalArgumentException] {
      operators.Dedup.appendToEmbedBandIndex(
        spark, "g_embed_band_idx", reupload(900003L), dim = 32)
    }
    assert(drift.getMessage.contains("geometry drift"), drift.getMessage)
  }

  test("incremental cluster maintenance equals re-clustering the union, never re-shingles the corpus") {
    val docs = sources.Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % 13 === 0)
    val corpus = docs.filter(col("doc_id") % 13 =!= 0)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    Seq("g_incr_minhash", "g_incr_cluster").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(wh, t))
    }
    operators.Dedup.writeMinhashIndex(corpus, "g_incr_minhash")
    operators.Dedup.writeClusterIndex(corpus, "g_incr_cluster")
    val out = operators.Dedup.clusterIncremental(
      spark, "g_incr_minhash", "g_incr_cluster", batch, corpus)
      .orderBy("doc_id")
    // the merge must be indistinguishable from re-clustering the whole
    // union — including cross-cluster bridges and canonical-id
    // rewrites (doc 0 is in the batch, so any cluster it joins gets a
    // NEW min; mass conservation comes free from the row-set equality)
    val direct = operators.Dedup.minhashClusters(docs)
    assert(out.collect().toSeq === direct.collect().toSeq)
    // the batch must actually exercise the merge path on this data:
    // at least one batch doc lands in a multi-member cluster
    val merged = out.filter(col("doc_id") % 13 === 0 &&
      col("cluster_id") =!= col("doc_id")).count() +
      out.filter(col("doc_id") % 13 =!= 0 &&
        col("cluster_id") % 13 === 0).count()
    assert(merged > 0, "residue split produced no cross-residue merges — gate is vacuous")
    // NO CORPUS RE-SHINGLE: every minhash computation in the edge plan
    // (the pre-checkpoint half — clusterPairs materializes eagerly)
    // sits above the batch residue filter; the corpus reaches the plan
    // only through the persisted indexes and the candidates' verify
    val edgePlan = operators.Dedup.incrementalEdges(
      spark, "g_incr_minhash", "g_incr_cluster", batch, corpus)
      .queryExecution.optimizedPlan
    val minhashNodes = edgePlan.collect {
      case p if p.expressions.exists(_.exists {
        case _: plans.MinHashTextExpr => true
        case _ => false
      }) => p
    }
    assert(minhashNodes.nonEmpty, "expected batch-side minhash computations")
    minhashNodes.foreach { p =>
      val sub = p.toString
      assert(sub.contains("% 13) = 0"),
        s"minhash computed over a non-batch relation:\n$sub")
    }
  }

  test("cluster-index upsert: batch-sized persist equals full rebuild, consumers stay exchange-free, compaction folds side tables") {
    val docs = sources.Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % 13 === 0)
    val corpus = docs.filter(col("doc_id") % 13 =!= 0)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    Seq("g_ups_minhash", "g_ups_cluster",
        operators.Dedup.staleClusterTable("g_ups_cluster"),
        sources.IndexMaintenance.tombstoneTable("g_ups_cluster")).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(wh, t))
    }
    operators.Dedup.writeMinhashIndex(corpus, "g_ups_minhash")
    operators.Dedup.writeClusterIndex(corpus, "g_ups_cluster")
    operators.Dedup.upsertClusterIndex(
      spark, "g_ups_minhash", "g_ups_cluster", batch, corpus)
    // live rows post-upsert ≡ re-clustering the union from scratch —
    // assignment AND carried quality (keep-best compares quality too)
    val live = operators.Dedup.liveClusterRows(spark, "g_ups_cluster")
      .select("doc_id", "cluster_id").orderBy("doc_id")
    val direct = operators.Dedup.minhashClusters(docs)
      .select("doc_id", "cluster_id").orderBy("doc_id")
    assert(live.collect().toSeq === direct.collect().toSeq)
    // the supersede path must actually fire on this data: at least one
    // corpus cluster merged under a new label (else the gate is a plain
    // append and the stale machinery is untested)
    assert(spark.catalog.tableExists(
      operators.Dedup.staleClusterTable("g_ups_cluster")) &&
      spark.table(operators.Dedup.staleClusterTable("g_ups_cluster")).count() > 0,
      "residue split superseded no corpus cluster — upsert spec is vacuous")
    // each doc appears ONCE in the live view even though superseded
    // clusters' old rows are still on disk
    assert(live.groupBy("doc_id").count().filter(col("count") > 1).count() === 0)
    // cluster-keyed consumers still plan zero hash exchanges through
    // the two broadcast anti-joins, and match the direct path end to
    // end (quality rode along from the old index rows)
    val kb = operators.Dedup.keepBestIndexed(spark, "g_ups_cluster")
    val kbPlan = kb.queryExecution.executedPlan.toString
    assert(!kbPlan.contains("Exchange hashpartitioning"),
      s"post-upsert keep-best should not hash-shuffle:\n$kbPlan")
    assert(kb.collect().toSeq === operators.Dedup.keepBest(docs).collect().toSeq)
    // compaction folds BOTH side tables into fresh files: stale table
    // gone, live view unchanged, consumers still exchange-free
    operators.Dedup.compactClusterIndex(spark, "g_ups_cluster")
    assert(!spark.catalog.tableExists(
      operators.Dedup.staleClusterTable("g_ups_cluster")))
    val postCompact = operators.Dedup.liveClusterRows(spark, "g_ups_cluster")
      .select("doc_id", "cluster_id").orderBy("doc_id")
    assert(postCompact.collect().toSeq === direct.collect().toSeq)
    val kb2 = operators.Dedup.keepBestIndexed(spark, "g_ups_cluster")
    assert(!kb2.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"))
    assert(kb2.collect().toSeq === operators.Dedup.keepBest(docs).collect().toSeq)
  }

  test("semantic cluster upsert: batch-sized persist equals full rebuild, consumers stay exchange-free") {
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val batch = vecs.filter(col("vec_id") % 13 === 0)
    val residue = vecs.filter(col("vec_id") % 13 =!= 0)
    val cents = operators.Similarity.headCodebookSized(residue)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    Seq("g_sem_ups_cluster",
        operators.Dedup.staleClusterTable("g_sem_ups_cluster"),
        sources.IndexMaintenance.tombstoneTable("g_sem_ups_cluster")).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(wh, t))
    }
    val ivf = java.nio.file.Files.createTempDirectory("g_sem_ups_ivf").toString
    operators.Similarity.writeIvfIndexWith(residue, ivf, cents)
    operators.Similarity.writeSemanticClusterIndex(
      residue, cents, "g_sem_ups_cluster")
    // the compute form first: incremental output ≡ full rebuild over
    // the union under the SAME (residue) codebook
    val incr = operators.Similarity.semanticClusterIncremental(
      spark, ivf, "g_sem_ups_cluster", batch)
      .select("vec_id", "cluster_id").orderBy("vec_id")
    val direct = operators.Similarity.semanticClusters(vecs, cents)
      .select("vec_id", "cluster_id").orderBy("vec_id")
    assert(incr.collect().toSeq === direct.collect().toSeq)
    // then the persist form: live rows post-upsert ≡ the same rebuild
    operators.Similarity.upsertSemanticClusterIndex(
      spark, ivf, "g_sem_ups_cluster", batch)
    val live = operators.Dedup.liveClusterRows(spark, "g_sem_ups_cluster")
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")
    assert(live.collect().toSeq === direct.collect().toSeq)
    // the supersede path must actually fire (else the stale machinery
    // is untested and the gate is a plain append)
    assert(spark.catalog.tableExists(
      operators.Dedup.staleClusterTable("g_sem_ups_cluster")) &&
      spark.table(operators.Dedup.staleClusterTable("g_sem_ups_cluster"))
        .count() > 0,
      "residue split superseded no semantic component — upsert spec is vacuous")
    assert(live.groupBy("vec_id").count().filter(col("count") > 1).count() === 0)
    // cluster-keyed consumers still plan zero hash exchanges through
    // the broadcast anti-joins and match the in-query form
    val w = operators.Similarity.semanticWeightsFromIndex(
      spark, "g_sem_ups_cluster")
    assert(!w.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "post-upsert semantic weights should not hash-shuffle")
    assert(w.collect().toSeq ===
      operators.Similarity.semanticWeights(vecs, cents).collect().toSeq)
    // compaction folds the side tables; live view unchanged
    operators.Dedup.compactClusterIndex(spark, "g_sem_ups_cluster")
    assert(!spark.catalog.tableExists(
      operators.Dedup.staleClusterTable("g_sem_ups_cluster")))
    val postCompact = operators.Dedup.liveClusterRows(spark, "g_sem_ups_cluster")
      .select(col("doc_id").as("vec_id"), col("cluster_id")).orderBy("vec_id")
    assert(postCompact.collect().toSeq === direct.collect().toSeq)
  }

  test("two-level IVF: build/append assignment parity, exact probe equals brute force over the grown index") {
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val residue = vecs.filter(col("vec_id") % 13 =!= 0)
    val batch = vecs.filter(col("vec_id") % 13 === 0)
    val path = java.nio.file.Files.createTempDirectory("g_ivf2_spec").toString
    operators.Similarity.writeTwoLevelIvfIndex(residue, path)
    // the factored append must route batches exactly as the build's
    // factored pass would (coarse cell, then the cell's RAGGED book)
    operators.Similarity.appendToTwoLevelIvfIndex(spark, path, batch)
    val stored = spark.read.parquet(s"$path/assigned")
      .filter(col("vec_id") % 13 === 0)
      .select("vec_id", "list_id").orderBy("vec_id")
    // flat assignment would route by GLOBAL nearest — over the flat
    // codebook with hole padding — which is exactly what the append
    // must NOT do; parity is against a fresh two-level pass instead:
    // rebuild the ragged books the append's own way and re-assign
    val cRows = spark.read.parquet(s"$path/codebook_coarse")
      .orderBy("coarse_id").collect()
    assert(cRows.forall(r => r.getAs[Int]("n_fine") >= 1))
    // exact probe over the grown index ≡ brute force over the union
    val probe = operators.Similarity.ivfTopKExactIndexed(spark, path, 7L, 20)
      .collect().toSeq
    val brute = operators.Similarity.bruteForceTopK(vecs, 7L, 20)
      .collect().toSeq
    assert(probe === brute)
    // every appended row landed in a list the build could produce
    // (no hole list: hole slots carry no real fine centroid)
    val g = spark.read.parquet(s"$path/codebook").count() /
      cRows.length
    val holes = cRows.flatMap { r =>
      val c = r.getAs[Int]("coarse_id")
      (r.getAs[Int]("n_fine") until g.toInt).map(f => c * g.toInt + f)
    }.toSet
    val landed = stored.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(landed.intersect(holes).isEmpty,
      s"appended rows landed in hole lists: ${landed.intersect(holes)}")
    // retrain preserves the FACTORED structure (a flat retrain would
    // silently put every future append back on the n·k·d curve): the
    // coarse book survives with the grid resized to the live count and
    // the flat book is exactly grid² rows; the probe answer is
    // retrain-invariant
    operators.Similarity.retrainTwoLevelIvfIndex(spark, path)
    val cAfter = spark.read.parquet(s"$path/codebook_coarse").collect()
    val flatAfter = spark.read.parquet(s"$path/codebook").count()
    assert(cAfter.length > 1 &&
      flatAfter === cAfter.length.toLong * cAfter.length)
    assert(cAfter.forall(_.getAs[Int]("n_fine") >= 1))
    val probe2 = operators.Similarity.ivfTopKExactIndexed(spark, path, 7L, 20)
      .collect().toSeq
    assert(probe2 === brute)
  }

  test("semantic cluster upsert composes: a second batch merges onto the upserted state") {
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val residue = vecs.filter(col("vec_id") % 13 =!= 0)
    val batch1 = vecs.filter(col("vec_id") % 26 === 0)
    val batch2 = vecs.filter(col("vec_id") % 13 === 0 && col("vec_id") % 26 =!= 0)
    val cents = operators.Similarity.headCodebookSized(residue)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    Seq("g_sem_ups2_cluster",
        operators.Dedup.staleClusterTable("g_sem_ups2_cluster")).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(wh, t))
    }
    val ivf = java.nio.file.Files.createTempDirectory("g_sem_ups2_ivf").toString
    operators.Similarity.writeIvfIndexWith(residue, ivf, cents)
    operators.Similarity.writeSemanticClusterIndex(
      residue, cents, "g_sem_ups2_cluster")
    operators.Similarity.upsertSemanticClusterIndex(
      spark, ivf, "g_sem_ups2_cluster", batch1)
    val staleAfter1 = spark.table(
      operators.Dedup.staleClusterTable("g_sem_ups2_cluster")).count()
    // the index must advance too (check → extend) so batch 2's
    // batch↔corpus edges can reach batch 1
    operators.Similarity.appendToIvfIndex(spark, ivf, batch1)
    operators.Similarity.upsertSemanticClusterIndex(
      spark, ivf, "g_sem_ups2_cluster", batch2)
    // round 2 must supersede (the stale-mark/re-append ordering is
    // only exercised when the live view already anti-joins the table)
    assert(spark.table(
      operators.Dedup.staleClusterTable("g_sem_ups2_cluster")).count() > staleAfter1,
      "second semantic upsert superseded no component — compose spec is vacuous")
    val live = operators.Dedup.liveClusterRows(spark, "g_sem_ups2_cluster")
      .select(col("doc_id").as("vec_id"), col("cluster_id")).orderBy("vec_id")
    val direct = operators.Similarity.semanticClusters(vecs, cents)
      .select("vec_id", "cluster_id").orderBy("vec_id")
    assert(live.collect().toSeq === direct.collect().toSeq)
    assert(live.groupBy("vec_id").count().filter(col("count") > 1).count() === 0)
  }

  test("cluster-index upsert composes: a second batch merges onto the upserted state") {
    // upsert-on-upserted-state is where the stale machinery earns its
    // keep: batch 2's edge contraction MUST read the live-cluster view
    // (a superseded cluster's old rows are still on disk — contracting
    // against them would give a doc two cluster ids and phantom
    // nodes), and labels must keep only decreasing across merges.
    val docs = sources.Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 13 =!= 0)
    // the %26==0 half carries this corpus's superseding merges — it
    // goes SECOND so round 2 (where the live view already anti-joins
    // the stale table) exercises the stale-mark/re-append ordering
    val batch1 = docs.filter(col("doc_id") % 13 === 0 && col("doc_id") % 26 =!= 0)
    val batch2 = docs.filter(col("doc_id") % 26 === 0)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    Seq("g_ups2_minhash", "g_ups2_cluster",
        operators.Dedup.staleClusterTable("g_ups2_cluster"),
        sources.IndexMaintenance.tombstoneTable("g_ups2_cluster")).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rm(new java.io.File(wh, t))
    }
    operators.Dedup.writeMinhashIndex(corpus, "g_ups2_minhash")
    operators.Dedup.writeClusterIndex(corpus, "g_ups2_cluster")
    operators.Dedup.upsertClusterIndex(
      spark, "g_ups2_minhash", "g_ups2_cluster", batch1, corpus)
    val staleAfter1 = spark.table(
      operators.Dedup.staleClusterTable("g_ups2_cluster")).count()
    // the band index must advance too (the lifecycle contract: check →
    // extend), so batch 2's batch↔corpus candidates can reach batch 1
    operators.Dedup.appendToMinhashIndex(batch1, "g_ups2_minhash")
    operators.Dedup.upsertClusterIndex(
      spark, "g_ups2_minhash", "g_ups2_cluster", batch2,
      corpus.unionByName(batch1))
    // the SECOND upsert must itself supersede clusters — that is the
    // path where the relabeled re-append races the stale-mark (the
    // live view already anti-joins the stale table at plan time), so
    // a vacuous round 2 would leave the ordering untested
    assert(spark.table(
      operators.Dedup.staleClusterTable("g_ups2_cluster")).count() > staleAfter1,
      "second upsert superseded no cluster — compose spec is vacuous")
    val live = operators.Dedup.liveClusterRows(spark, "g_ups2_cluster")
      .select("doc_id", "cluster_id").orderBy("doc_id")
    val direct = operators.Dedup.minhashClusters(docs)
      .select("doc_id", "cluster_id").orderBy("doc_id")
    assert(live.collect().toSeq === direct.collect().toSeq)
    assert(live.groupBy("doc_id").count().filter(col("count") > 1).count() === 0)
  }

  test("persisted cluster index: keep-best and split run without hash exchanges, matching direct") {
    spark.sql("DROP TABLE IF EXISTS g_cluster_idx")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(wh, "g_cluster_idx")
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
    val docs = sources.Tables.documents(spark, sfDir)
    operators.Dedup.writeClusterIndex(docs, "g_cluster_idx")
    // the per-cluster argmax window: its cluster partitioning is
    // satisfied by the bucketing — the only exchange left is the
    // output ordering's range partitioning
    val kb = operators.Dedup.keepBestIndexed(spark, "g_cluster_idx")
    val kbPlan = kb.queryExecution.executedPlan.toString
    assert(!kbPlan.contains("Exchange hashpartitioning"),
      s"indexed keep-best should not hash-shuffle:\n$kbPlan")
    assert(kb.collect().toSeq === operators.Dedup.keepBest(docs).collect().toSeq)
    val sp = operators.Sampling.splitFromIndex(spark, "g_cluster_idx")
    val spPlan = sp.queryExecution.executedPlan.toString
    assert(!spPlan.contains("Exchange hashpartitioning"),
      s"indexed split should not hash-shuffle:\n$spPlan")
    assert(sp.collect().toSeq === operators.Sampling.leakageSafeSplit(docs).collect().toSeq)
    // the size histogram: the per-cluster count is bucket-local; the
    // only hash exchange left is the |clusters|-row size regroup
    val cs = operators.Dedup.clusterStatsFromIndex(spark, "g_cluster_idx")
    val csPlan = cs.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(cluster_id".r.findAllIn(csPlan).isEmpty,
      s"indexed cluster stats must not shuffle the assignment:\n$csPlan")
    assert(cs.collect().toSeq === operators.Dedup.clusterStats(docs).collect().toSeq)
  }

  test("tombstone delete hides a doc from the index; compaction folds it in") {
    import spark.implicits._
    val tbl = "g_minhash_idx_del"
    Seq(tbl, s"${tbl}_tombstones", s"${tbl}_compact_tmp").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    val corpus = sources.Tables.documents(spark, sfDir)
    operators.Dedup.writeMinhashIndex(corpus, tbl)
    val before = operators.Dedup.minhashLshIndexed(spark, tbl, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.nonEmpty)
    val victim = before.head._1
    // takedown: tombstone the victim — every pair it participated in
    // disappears from the indexed dedup, nothing else moves
    operators.Dedup.deleteFromMinhashIndex(spark, tbl, Seq(victim).toDF("doc_id"))
    val after = operators.Dedup.minhashLshIndexed(spark, tbl, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after === before.filterNot(p => p._1 == victim || p._2 == victim))
    // a re-crawl of the deleted text no longer matches the victim id
    // (the takedown holds against incremental checks too)
    val victimText = corpus.filter(col("doc_id") === victim)
      .head().getAs[String]("text")
    val recrawl = Seq((900001L, victimText)).toDF("doc_id", "text")
    val hits = operators.Dedup
      .minhashLshAgainstIndex(spark, tbl, recrawl, corpus)
      .collect().map(_.getAs[Long]("b")).toSet
    assert(!hits.contains(victim), s"deleted doc still matched: $hits")
    // idempotent: deleting again changes nothing
    operators.Dedup.deleteFromMinhashIndex(spark, tbl, Seq(victim).toDF("doc_id"))
    assert(operators.Dedup.minhashLshIndexed(spark, tbl, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === after)
    // the tombstone anti-join must not cost the bucket layout: the
    // candidate self-join still plans no HASH exchange (the broadcast
    // exchange of the kilobyte tombstone table is the design)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val live = operators.Dedup.liveIndexRows(spark, tbl)
      val plan = operators.Dedup.bucketCandidates(live)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"tombstoned index self-join should not hash-shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    // compaction folds tombstones into the files: side table gone,
    // results identical, geometry properties preserved for appends
    operators.Dedup.compactMinhashIndex(spark, tbl)
    assert(!spark.catalog.tableExists(s"${tbl}_tombstones"))
    assert(operators.Dedup.minhashLshIndexed(spark, tbl, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === after)
    val props = spark.sql(s"SHOW TBLPROPERTIES $tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.minhash.k").contains("5"))
  }

  test("tombstone deletes work uniformly across containment, cluster, and bm25 indexes") {
    import spark.implicits._
    def reset(ts: String*): Unit = ts.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    val corpus = sources.Tables.documents(spark, sfDir)

    // containment: a tombstoned doc drops out of the indexed pairs
    val ct = "g_cont_idx_del"
    reset(ct, s"${ct}_tombstones", s"${ct}_compact_tmp")
    operators.Dedup.writeContainmentIndex(corpus, ct)
    val cBefore = operators.Dedup.containmentPairsIndexed(spark, ct, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cBefore.nonEmpty)
    val cVictim = cBefore.head._1
    operators.Dedup.deleteFromContainmentIndex(spark, ct, Seq(cVictim).toDF("doc_id"))
    val cAfter = operators.Dedup.containmentPairsIndexed(spark, ct, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cAfter === cBefore.filterNot(p => p._1 == cVictim || p._2 == cVictim))
    operators.Dedup.compactContainmentIndex(spark, ct)
    assert(!spark.catalog.tableExists(s"${ct}_tombstones"))
    assert(operators.Dedup.containmentPairsIndexed(spark, ct, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === cAfter)

    // cluster: deleting a keeper promotes the next-best member, the
    // split stops emitting the deleted doc
    val kt = "g_clu_idx_del"
    reset(kt, s"${kt}_tombstones", s"${kt}_compact_tmp")
    operators.Dedup.writeClusterIndex(corpus, kt)
    val keepers = operators.Dedup.keepBestIndexed(spark, kt).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_members")))
      .toMap
    val (multiCluster, (keeper, members)) =
      keepers.find(_._2._2 > 1).getOrElse(fail("no multi-member cluster"))
    operators.Dedup.deleteFromClusterIndex(spark, kt, Seq(keeper).toDF("doc_id"))
    val keepersAfter = operators.Dedup.keepBestIndexed(spark, kt).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_members")))
      .toMap
    val (newKeeper, newMembers) = keepersAfter(multiCluster)
    assert(newKeeper !== keeper)
    assert(newMembers === members - 1)
    assert(!operators.Sampling.splitFromIndex(spark, kt)
      .filter(col("doc_id") === keeper).head(1).nonEmpty)

    // bm25: the deleted doc can never be retrieved; compaction
    // restamps (N, Σdl) to the live collection
    val bt = "g_bm25_idx_del"
    reset(bt, s"${bt}_tombstones", s"${bt}_compact_tmp")
    operators.Corpus.writeBm25Index(corpus, bt)
    val top = operators.Corpus.bm25FromIndex(spark, bt).collect()
    assert(top.nonEmpty)
    val bVictim = top.head.getAs[Long]("doc_id")
    operators.Corpus.deleteFromBm25Index(spark, bt, Seq(bVictim).toDF("doc_id"))
    val topAfter = operators.Corpus.bm25FromIndex(spark, bt).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(!topAfter.contains(bVictim))
    operators.Corpus.compactBm25Index(spark, bt)
    val props = spark.sql(s"SHOW TBLPROPERTIES $bt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val liveN = spark.table(bt).select("doc_id").distinct().count()
    assert(props("graft.bm25.n").toLong === liveN)
    assert(operators.Corpus.bm25FromIndex(spark, bt).collect()
      .map(_.getAs[Long]("doc_id")).toSet.contains(bVictim) === false)
  }

  test("incremental dedup flags a re-crawled batch against the persisted index") {
    spark.sql("DROP TABLE IF EXISTS g_minhash_idx_inc")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(wh, "g_minhash_idx_inc")
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
    import spark.implicits._
    val corpus = sources.Tables.documents(spark, sfDir)
    operators.Dedup.writeMinhashIndex(corpus, "g_minhash_idx_inc")
    // an arriving batch: two re-crawls of existing docs with a footer
    // appended (near-dup, fresh ids) and one genuinely new document.
    // The two LONGEST docs: a fixed footer on a short doc dilutes the
    // shingle Jaccard below the 8×8 LSH knee (~0.77)
    val base = corpus.orderBy(col("n_chars").desc, col("doc_id")).limit(2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val batch = Seq(
      (100001L, base(0)._2 + " subscribe to our newsletter today"),
      (100002L, base(1)._2 + " all rights reserved contact us"),
      (100003L, "an entirely novel report about deep sea mining robots " +
        "surveying hydrothermal vents for battery metals"))
      .toDF("doc_id", "text")
    val hits = operators.Dedup
      .minhashLshAgainstIndex(spark, "g_minhash_idx_inc", batch, corpus)
      .collect()
    val flagged = hits.map(_.getAs[Long]("a")).toSet
    assert(flagged === Set(100001L, 100002L))
    assert(hits.exists(r => r.getAs[Long]("a") == 100001L && r.getAs[Long]("b") == base(0)._1))
    assert(hits.exists(r => r.getAs[Long]("a") == 100002L && r.getAs[Long]("b") == base(1)._1))
  }

  test("appending a batch to the minhash index makes the next check see it") {
    spark.sql("DROP TABLE IF EXISTS g_minhash_idx_app")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(wh, "g_minhash_idx_app")
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
    import spark.implicits._
    val corpus = sources.Tables.documents(spark, sfDir)
    operators.Dedup.writeMinhashIndex(corpus, "g_minhash_idx_app")
    val longest = corpus.orderBy(col("n_chars").desc, col("doc_id")).limit(1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).head
    // batch 1 lands and its signatures are appended to the index
    val batch1 = Seq((200001L, longest._2 + " first re-crawl footer line"))
      .toDF("doc_id", "text")
    operators.Dedup.appendToMinhashIndex(batch1, "g_minhash_idx_app")
    // batch 2 is a near-dup of BATCH 1's doc (and of the original):
    // the check must now flag it against the appended signatures too
    val batch2 = Seq((200002L, longest._2 + " second re-crawl footer line"))
      .toDF("doc_id", "text")
    val haystack = corpus.select("doc_id", "text")
      .unionByName(batch1.select("doc_id", "text"))
    val hits = operators.Dedup
      .minhashLshAgainstIndex(spark, "g_minhash_idx_app", batch2, haystack)
      .collect()
    val matched = hits.map(_.getAs[Long]("b")).toSet
    assert(matched.contains(200001L), s"appended doc not matched: $matched")
    assert(matched.contains(longest._1))
    // the appended table keeps the bucket layout: still no shuffle
    // (broadcast off — at test size the planner otherwise prefers a
    // broadcast join and skips the bucketed scan entirely)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = operators.Dedup.bucketCandidates(spark.table("g_minhash_idx_app"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"append broke the bucket layout:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    // geometry drift (different bands than the index was built with)
    // must be rejected — Spark only validates the bucket layout, so
    // without the property check this append would succeed and
    // silently corrupt the index semantics
    val drift = intercept[IllegalArgumentException] {
      operators.Dedup.appendToMinhashIndex(batch1, "g_minhash_idx_app", bands = 16, numPerm = 64)
    }
    assert(drift.getMessage.contains("geometry drift"), drift.getMessage)
  }

  test("ivf append: aged-codebook probe stays exact; drift report measures fixed-nProbe recall") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_incr").toString
    val emb = sources.Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(col("vec_id") % 13 =!= 0)
    val batch = emb.filter(col("vec_id") % 13 === 0)
    operators.Similarity.writeIvfIndex(corpus, path)
    operators.Similarity.appendToIvfIndex(spark, path, batch)
    // the appended batch is IN the lists: an appended vector is
    // retrievable, and the exact-guarantee probe over the aged index
    // equals brute force over the union (the codebook never saw the
    // batch — the radii recomputation is what keeps the bounds honest)
    val qid = 7L
    val exact = operators.Similarity.ivfTopKExactIndexed(spark, path, qid, 20)
    val bf = operators.Similarity.bruteForceTopK(emb, qid, 20)
    assert(exact.collect().toSeq === bf.collect().toSeq)
    // drift report: one row per query, recall in [0, 10000], and the
    // per-query hit count consistent with the fixed-nProbe indexed
    // probe intersected with brute force (the report's definition)
    val report = operators.Similarity.ivfDriftReport(spark, path)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("recall_bp")))
    val expectedQueries = emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 500)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(report.map(_._1).toSeq === expectedQueries)
    assert(report.forall(r => r._3 >= 0 && r._3 <= 10000))
    report.take(3).foreach { case (q, hits, _) =>
      val probeIds = operators.Similarity.ivfTopKIndexed(spark, path, q, 10)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      val truth = operators.Similarity.bruteForceTopK(emb, q, 10)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      assert(hits === (probeIds & truth).size.toLong,
        s"drift report hits for query $q disagree with the probe definition")
    }
  }

  test("ivf retrain restores fresh-index recall and folds tombstones") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_retrain").toString
    // 16 well-separated clusters of 30 points (the corpus shape IVF is
    // for — same generator as the trained-codebook recall spec), so
    // trained routing measurably beats a degenerate codebook
    def lcg(seed: Long): Iterator[Double] = Iterator.iterate(seed)(x =>
      x * 6364136223846793005L + 1442695040888963407L)
      .map(x => ((x >>> 11).toDouble / (1L << 53).toDouble) - 0.5).drop(1)
    val dim = 8
    val emb = (for {
      c <- 0 until 16
      i <- 0 until 30
    } yield {
      val center = lcg(c * 7919L + 1).take(dim).map(_ * 10).toArray
      val noise = lcg(c * 104729L + i * 31L + 7).take(dim).toArray
      ((c * 30 + i).toLong, center.zip(noise).map { case (a, b) => (a + b).toFloat })
    }).toDF("vec_id", "embedding")
    val residue = emb.filter(col("vec_id") % 13 =!= 0)
    // age the index HARD: a no-kmeans seed codebook (the 16 smallest
    // residue vec_ids — ALL inside cluster 0, so routing is blind to
    // the other 15 clusters), then a batch appends under it — the
    // state whose drift report triggers the retrain
    val seedCents = residue.orderBy("vec_id").limit(16)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    operators.Similarity.writeIvfIndexWith(residue, path, seedCents)
    operators.Similarity.appendToIvfIndex(
      spark, path, emb.filter(col("vec_id") % 13 === 0))
    def meanRecall(p: String): Double = {
      val r = operators.Similarity.ivfDriftReport(spark, p)
        .collect().map(_.getAs[Long]("recall_bp"))
      r.sum.toDouble / r.length
    }
    val aged = meanRecall(path)
    // a takedown before the retrain: the deleted vector must not shape
    // the new centroids, and the retrain must fold the tombstone
    val victim = 3L
    operators.Similarity.deleteFromIvfIndex(spark, path, Seq(victim).toDF("vec_id"))
    operators.Similarity.retrainIvfIndex(spark, path)
    // tombstones folded: the side dir is gone and the victim is out of
    // the rebuilt lists
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(spark.read.parquet(s"$path/assigned")
      .filter(col("vec_id") === victim).count() === 0)
    // the retrained index IS the fresh-trained index over live rows:
    // same deterministic codebook (decimal-accumulated k-means), same
    // assignment, same drift report — retrain ≡ rebuild, at live-row
    // cost, serving the same path
    val fresh = java.nio.file.Files.createTempDirectory("graft_ivf_fresh").toString
    operators.Similarity.writeIvfIndex(emb.filter(col("vec_id") =!= lit(victim)), fresh)
    val cbRetrained = spark.read.parquet(s"$path/codebook")
      .orderBy("list_id").collect().map(_.toSeq)
    val cbFresh = spark.read.parquet(s"$fresh/codebook")
      .orderBy("list_id").collect().map(_.toSeq)
    assert(cbRetrained === cbFresh)
    val retrained = meanRecall(path)
    assert(retrained === meanRecall(fresh))
    // and the loop closed for a REASON: trained routing beats the aged
    // seed codebook's on this corpus
    assert(retrained > aged,
      s"retrain did not restore recall: aged=$aged retrained=$retrained")
  }

  test("persisted exact-ivf probe returns the true top-k (equals brute force)") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_exact").toString
    val emb = sources.Tables.embeddings(spark, sfDir)
    operators.Similarity.writeIvfIndex(emb, path)
    val out = operators.Similarity.ivfTopKExactIndexed(spark, path, 7L, 10)
    // the triangle-inequality guarantee must hold over the persisted
    // index exactly as in-query: brute force is the ground truth
    val bf = operators.Similarity.bruteForceTopK(emb, 7L, 10)
    assert(out.collect().toSeq === bf.collect().toSeq)
  }

  test("persisted ivf index probes with partition pruning, same results as in-query ivf") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    val emb = sources.Tables.embeddings(spark, sfDir)
    operators.Similarity.writeIvfIndex(emb, path)
    val qid = emb.select(min(col("vec_id"))).head().getLong(0)
    val indexed = operators.Similarity.ivfTopKIndexed(spark, path, qid, 10)
    // the probe's list filter must reach the scan as a PARTITION
    // filter — that pruning is the entire point of the persisted index
    val plan = indexed.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*list_id""".r.findFirstIn(plan).nonEmpty,
      s"expected list_id partition pruning:\n$plan")
    // decimal-accumulated training is bit-reproducible, so the
    // persisted index reproduces the in-query probe exactly
    val direct = operators.Similarity.ivfTopK(emb, qid, 10)
    assert(indexed.collect().toSeq === direct.collect().toSeq)
    // embedding takedown: tombstone the top hit — it drops out of the
    // probe, the list_id partition pruning survives the anti-join,
    // and compaction folds the delete into the partitioned files
    import spark.implicits._
    val victim = indexed.collect().head.getAs[Long]("vec_id")
    operators.Similarity.deleteFromIvfIndex(spark, path, Seq(victim).toDF("vec_id"))
    val afterDel = operators.Similarity.ivfTopKIndexed(spark, path, qid, 10)
    assert("""PartitionFilters: \[[^\]]*list_id""".r
      .findFirstIn(afterDel.queryExecution.executedPlan.toString).nonEmpty,
      "tombstone anti-join must not break partition pruning")
    val afterIds = afterDel.collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(!afterIds.contains(victim))
    operators.Similarity.compactIvfIndex(spark, path)
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(operators.Similarity.ivfTopKIndexed(spark, path, qid, 10)
      .collect().map(_.getAs[Long]("vec_id")).toSeq === afterIds)
  }

  test("partitioned sink writes per-period directories and prunes on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val combined = operators.Rollups.combined(operators.Rollups.series(
      sources.Tables.orders(spark, sfDir), "o_custkey", "o_orderdate", "o_totalprice"))
    Sinks.writePartitioned(combined, dir, Seq("agg_type"))
    assert(new java.io.File(s"$dir/agg_type=month").isDirectory)
    val back = Sinks.readPartitioned(spark, dir).filter(col("agg_type") === "year")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("agg_type"))
    assert(back.count() > 0)
    assert(back.select("agg_type").distinct().head().getString(0) === "year")
  }

  test("dynamic partition upsert replaces only the loaded periods") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val v1 = Seq(("2024-01", 1L, 10.0), ("2024-02", 2L, 20.0))
      .toDF("period", "id", "v")
    Sinks.writePartitioned(v1, dir, Seq("period"))
    // reload of ONE period with corrected data
    val v2 = Seq(("2024-02", 2L, 25.0)).toDF("period", "id", "v")
    Sinks.upsertPartitions(v2, dir, Seq("period"))
    val back = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("period") -> r.getAs[Double]("v")).toMap
    assert(back === Map("2024-01" -> 10.0, "2024-02" -> 25.0))
  }

  test("compaction collapses many small files to one per partition, same rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val df = (1 to 200).map(i => (s"2024-0${i % 2 + 1}", i.toLong)).toDF("period", "id")
    // force a fragmented layout: many tasks each writing every period
    df.repartition(16).write.mode("overwrite").partitionBy("period").parquet(dir)
    def filesIn(p: String) = new java.io.File(s"$dir/period=$p")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesIn("2024-01") > 4)
    Sinks.compact(spark, dir, Seq("period"))
    assert(filesIn("2024-01") === 1 && filesIn("2024-02") === 1)
    val back = spark.read.parquet(dir)
    assert(back.count() === 200)
    assert(back.agg(sum("id")).head().getLong(0) === (1 to 200).sum.toLong)
  }

  test("quantize_i8 emits the int8 array consistent with its stats") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.5, -1.0, 0.25, 0.0)),
      (2L, Array(0.0, 0.0, 0.0, 0.0)) // all-zero → zeros, no div-by-0
    ).toDF("id", "v").select(
      col("id"),
      HashExprs.quantizeI8(col("v")).as("q"),
      HashExprs.quantizeI8Stats(col("v")).as("st"))
    val rows = df.collect().sortBy(_.getLong(0))
    val q1 = rows(0).getAs[scala.collection.Seq[Byte]]("q")
    // scale = 1.0/127; q = round(x * 127)
    assert(q1 === Seq[Byte](64, -127, 32, 0))
    val st1 = rows(0).getStruct(2)
    assert(q1.map(b => math.abs(b.toLong)).sum === st1.getAs[Long]("l1"))
    assert(q1.map(_.toLong).max === st1.getAs[Long]("qmax"))
    assert(q1.map(_.toLong).min === st1.getAs[Long]("qmin"))
    assert(rows(1).getAs[scala.collection.Seq[Byte]]("q") === Seq[Byte](0, 0, 0, 0))
  }

  test("stopword_hits equals the interpreted filter(split) formulation") {
    import spark.implicits._
    val vocab = Seq("the", "a", "of", "and", "to", "in", "is")
    val docs = sources.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (9001L, null.asInstanceOf[String]), (9002L, ""), (9003L, "   \t \n "),
        (9004L, "the THE the. a\tof\nand"), (9005L, "is"), (9006L, "isnt theo a")
      ).toDF("doc_id", "text"))
    val both = docs.select(
      col("doc_id"),
      graft.plans.HashExprs.stopwordHits(lower(col("text")), vocab).as("compiled"),
      size(filter(split(trim(lower(col("text"))), "\\s+"),
        w => vocab.foldLeft(lit(false))((acc, v) => acc || w === v))).as("interpreted"))
    val bad = both.filter(
      !(col("compiled") <=> col("interpreted")) &&
      // null text: compiled → null, size(filter(null)) → null too
      col("compiled").isNotNull || col("interpreted").isNotNull && col("compiled").isNull)
      .collect()
    assert(bad.isEmpty, s"mismatches: ${bad.mkString(", ")}")
    // spot values: "the THE the. a of and" lowered → the, the, the., a, of, and
    val r = both.filter(col("doc_id") === 9004L).head()
    assert(r.getAs[Int]("compiled") === 5) // "the." is not a vocab word
    // no interpreted lambda may remain in any text-analysis query plan
    for (q <- Seq(
      graft.functions.TextAnalysis.langId(docs),
      graft.functions.TextAnalysis.qualityScore(docs),
      graft.functions.TextAnalysis.qualityFilter(docs))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("lambdafunction"), s"interpreted HOF left in plan:\n$plan")
    }
  }

  test("lang_segments splits mixed-language documents into per-language spans") {
    import spark.implicits._
    val W = graft.functions.TextAnalysis.SegmentWindow
    // doc 1: 2 windows of English then 2 windows of Spanish, from the
    // profile vocabularies themselves (unambiguous signal)
    val en = Seq.fill(2 * W / 7 + 1)(graft.functions.TextAnalysis.EnStops)
      .flatten.take(2 * W).mkString(" ")
    val es = Seq.fill(2 * W / 7 + 1)(graft.functions.TextAnalysis.EsStops)
      .flatten.take(2 * W).mkString(" ")
    val docs = Seq(
      (1L, s"$en $es"),
      (2L, "zzz qqq xxx"),          // no stopwords at all → unknown
      (3L, ""),                     // blank → no segments
      (4L, "the " * (W / 2))        // sub-window doc → one short segment
    ).toDF("doc_id", "text")
    val segs = graft.functions.TextAnalysis.langSegments(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("seg_idx"),
        r.getAs[String]("lang"), r.getAs[Long]("n_tokens")))
    assert(segs.filter(_._1 == 1L).toSeq ===
      Seq((1L, 0L, "en", 2L * W), (1L, 1L, "es", 2L * W)))
    assert(segs.filter(_._1 == 2L).toSeq === Seq((2L, 0L, "unknown", 3L)))
    assert(!segs.exists(_._1 == 3L))
    assert(segs.filter(_._1 == 4L).toSeq === Seq((4L, 0L, "en", (W / 2).toLong)))
    // whole-doc argmax hides doc 1's Spanish half; the segments don't:
    // per-language token sums are the point of the operator
    val byLang = segs.filter(_._1 == 1L).groupBy(_._3).view.mapValues(_.map(_._4).sum)
    assert(byLang("en") === byLang("es"))
    // scan-shape: no interpreted lambda, no shuffle before the explode
    val plan = graft.functions.TextAnalysis.langSegments(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction"), s"interpreted HOF in plan:\n$plan")
  }

  test("xml_leaf_map: namespaces, attributes, nesting, case, last-wins") {
    import spark.implicits._
    import graft.plans.XmlExprs
    val payload =
      """<idx:Report xmlns:idx="http://x" Entity="ACME">
        |<idx:Revenue>100</idx:Revenue>
        |<idx:meta><idx:CurrentYear unit="IDR">2024</idx:CurrentYear></idx:meta>
        |<Liabilities>7</Liabilities>
        |<Dup>first</Dup><Dup>second</Dup>
        |<broken <<< not-xml
        |</idx:Report>""".stripMargin
    val m = Seq(payload).toDF("p").select(XmlExprs.xmlLeafMap(col("p")).as("m"))
    val got = m.select(
      XmlExprs.getKeyCI(col("m"), "Report@Entity").as("entity"),
      XmlExprs.getKeyCI(col("m"), "REVENUE").as("rev"),
      XmlExprs.getKeyCI(col("m"), "currentYear").as("cy"),
      XmlExprs.getKeyCI(col("m"), "CurrentYear@UNIT").as("unit"),
      XmlExprs.getKeyCI(col("m"), "liabilities").as("li"),
      XmlExprs.getKeyCI(col("m"), "dup").as("dup"),
      XmlExprs.getKeyCI(col("m"), "meta").as("meta"), // non-leaf → absent
      XmlExprs.getKeyCI(col("m"), "missing").as("missing")).head()
    assert(got.getString(0) === "ACME")
    assert(got.getString(1) === "100")
    assert(got.getString(2) === "2024")
    assert(got.getString(3) === "IDR")
    assert(got.getString(4) === "7")
    assert(got.getString(5) === "second")
    assert(got.isNullAt(6) && got.isNullAt(7))
  }

  test("heavy_hitters works as a registered SQL aggregate") {
    import spark.implicits._
    Seq("a", "a", "b").map(Tuple1(_)).toDF("key").createOrReplaceTempView("hh_in")
    val out = spark.sql("SELECT heavy_hitters(key, 4) AS hh FROM hh_in")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col("hh")).as("e"))
      .select("e.item", "e.cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a" -> 2L, "b" -> 1L))
  }

  test("misra-gries summary is exact under capacity, bounded under eviction") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // exact path: distinct keys ≤ k → counts exact through merges
    val small = Seq("a", "a", "a", "b", "b", "c").map(Tuple1(_))
      .toDF("key").repartition(4)
    val exact = small.agg(graft.plans.SketchAggs.heavyHitters(col("key"), 8).as("hh"))
      .select(explode(col("hh")).as("e")).select("e.item", "e.cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    // eviction path: key "hot" 60×, 20 singletons, k = 4, N = 80 —
    // the MG guarantee: any key with true count > N/(k+1) = 16
    // survives, reported within N/(k+1) BELOW its true count
    val rows = (Seq.fill(60)("hot") ++ (1 to 20).map(i => s"r$i")).map(Tuple1(_))
    val skewed = rows.toDF("key").repartition(8)
    val out = skewed.agg(graft.plans.SketchAggs.heavyHitters(col("key"), 4).as("hh"))
      .select(explode(col("hh")).as("e")).select("e.item", "e.cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.contains("hot"), s"heavy key evicted: $out")
    assert(out("hot") <= 60L && out("hot") >= 60L - 16L, s"bound violated: $out")
    assert(out.size <= 4)
  }

  test("top_k_by keeps exactly the k best with deterministic tie-breaks across merges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ties on ord resolve to the SMALLER payload; many partitions
    // force the serialize/merge path
    val rows = Seq(
      (5.0, 10L), (5.0, 3L), (9.0, 7L), (1.0, 1L), (9.0, 11L), (2.0, 2L), (5.0, 4L))
    val df = rows.toDF("v", "id").repartition(6)
    val got = df.agg(graft.plans.SketchAggs.topKBy(col("v"), col("id"), 4).as("t"))
      .select(explode(col("t")).as("e")).select("e.payload", "e.ord").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // best-first: (9,7) beats (9,11); the three 5.0s keep ids 3 then 4
    assert(got === Seq((7L, 9.0), (11L, 9.0), (3L, 5.0), (4L, 5.0)))
  }

  test("two-level assignment equals a driver-side argmin; null lands in the first list") {
    import org.apache.spark.sql.functions._
    val vecs = sources.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val books = operators.Similarity.headTwoLevelBooks(vecs)
    val cells = books.coarse.indices.filter(books.fine(_).nonEmpty)
    // the reference fold: squared L2 over min(|v|, |cent|) dims summed
    // left to right, strict-less so ties keep the first index
    def nearest(v: Array[Double], cents: Seq[Array[Double]]): Int =
      cents.indices.foldLeft((0, Double.MaxValue)) { case ((best, bestD), c) =>
        var d = 0.0
        (0 until math.min(v.length, cents(c).length)).foreach { i =>
          val diff = v(i) - cents(c)(i)
          d += diff * diff
        }
        if (d < bestD) (c, d) else (best, bestD)
      }._1
    def reference(v: Array[Double]): Int =
      if (v == null) cells.head * books.nFine
      else {
        val ri = nearest(v, cells.map(books.coarse))
        cells(ri) * books.nFine + nearest(v, books.fine(cells(ri)).toSeq)
      }
    // one extra row with a null embedding, under an id the corpus lacks
    val withNull = vecs.unionByName(vecs.limit(1).select(
      lit(-1L).cast(vecs.schema("vec_id").dataType).as("vec_id"),
      lit(null).cast(vecs.schema("embedding").dataType).as("embedding")))
    // float → double is exact, so the collected doubles are the values
    // the expression reads
    val expected = withNull
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map { r =>
        r.getLong(0) -> reference(
          if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray)
      }.sortBy(_._1).toSeq
    val got = operators.Similarity.assignTwoLevel(withNull, books)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).sortBy(_._1).toSeq
    assert(got === expected)
    assert(got.head === (-1L -> cells.head * books.nFine))
    // duplicate vec_id input rows are PRESERVED: one output row per
    // input row
    val dup = vecs.limit(3).unionByName(vecs.limit(3))
    assert(operators.Similarity.assignTwoLevel(dup, books).count() === 6L)
    // the empty-codebook guard fails loudly (a NoSuchElementException
    // from cells.head was the old failure mode)
    val err = intercept[IllegalArgumentException] {
      operators.Similarity.assignTwoLevel(vecs,
        operators.Similarity.TwoLevelBooks(
          Array(Array(0.0, 0.0)), Array(Array.empty[Array[Double]]), 1))
    }
    assert(err.getMessage.contains("non-empty codebook"))
    // the books travel by broadcast, not inside the expression: it
    // serialises to the same size at 4 cells and at 64
    def serialisedSize(nCells: Int): Int = {
      val cents = Array.tabulate(nCells)(c => Array.fill(64)(c.toDouble))
      val b = spark.sparkContext.broadcast(plans.RoutedBooks(cents,
        cents.map(Array(_)), Array.tabulate(nCells)(identity)))
      val e = plans.TwoLevelAssignExpr(
        org.apache.spark.sql.catalyst.expressions.BoundReference(0,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType), nullable = true), b)
      val bytes = new java.io.ByteArrayOutputStream
      val out = new java.io.ObjectOutputStream(bytes)
      try out.writeObject(e) finally out.close()
      bytes.size
    }
    assert(serialisedSize(4) === serialisedSize(64))
  }

  test("staged upsert commit: no crash window loses member rows; recovery and replay fold idempotently") {
    import org.apache.spark.sql.functions._
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val residue = vecs.filter(col("vec_id") % 13 =!= 0)
    val batch = vecs.filter(col("vec_id") % 13 === 0)
    val cents = operators.Similarity.headCodebookSized(residue)
    val t = "g_sem_crash_cluster"
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    Seq(t, operators.Dedup.staleClusterTable(t)).foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS $n")
      rm(new java.io.File(wh, n))
    }
    operators.Dedup.clearUpsertStaging(spark, t)
    val ivf = java.nio.file.Files.createTempDirectory("g_sem_crash_ivf").toString
    operators.Similarity.writeIvfIndexWith(residue, ivf, cents)
    operators.Similarity.writeSemanticClusterIndex(residue, cents, t)
    val direct = operators.Similarity.semanticClusters(vecs, cents)
      .select("vec_id", "cluster_id").orderBy("vec_id").collect().toSeq
    // CRASH WINDOW 1: the commit rename landed, nothing applied — the
    // live view is untouched and the batch is durable in staging
    operators.Similarity.stageSemanticUpsertOnly(spark, ivf, t, batch)
    val stagingDir = operators.Dedup.upsertStagingDir(spark, t)
    val fs = new org.apache.hadoop.fs.Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(stagingDir)))
    assert(operators.Dedup.liveClusterRows(spark, t)
      .filter(col("doc_id") % 13 === 0).count() === 0,
      "staged-but-unapplied upsert already visible")
    // the staged commit must exercise the supersede path, or the loss
    // window this spec pins never opens
    val staleStaged = spark.read.parquet(s"$stagingDir/stale")
    assert(staleStaged.count() > 0,
      "residue split superseded no component — crash spec is vacuous")
    // CRASH WINDOW 2 (the r14-adviced loss window): the apply's
    // stale-mark landed but the re-append did NOT — under the old
    // protocol the superseded clusters' member rows were gone forever
    // (the live view anti-joins them, and a replayed merge can never
    // see them again); with the staged commit, replay recovers them
    staleStaged.write.mode("append").format("parquet")
      .saveAsTable(operators.Dedup.staleClusterTable(t))
    operators.Similarity.upsertSemanticClusterIndex(spark, ivf, t, batch)
    def live() = operators.Dedup.liveClusterRows(spark, t)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id").collect().toSeq
    assert(live() === direct,
      "post-crash recovery diverged from the full rebuild")
    assert(operators.Dedup.liveClusterRows(spark, t)
      .groupBy("doc_id").count().filter(col("count") > 1).count() === 0,
      "recovery duplicated assignment rows")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stagingDir)),
      "staging dir survived a completed apply")
    // a FULLY-applied batch replayed end to end (the redelivery case
    // where even the outer batch-id mark was lost) is still a no-op
    operators.Similarity.upsertSemanticClusterIndex(spark, ivf, t, batch)
    assert(live() === direct, "full replay of an applied batch changed state")
  }

  test("compaction swap: every crash window keeps a complete copy; recovery converges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._

    // — PATH-BASED swap (compactAt / Sinks.compact): manufacture every
    // on-disk state a crash can leave and assert recovery restores a
    // complete serving copy. The old delete-then-rename protocol had a
    // state (dataDir deleted, tmp not yet renamed) where a CRASH left no
    // data and a RETRY (which started by deleting tmp) erased the last
    // copy — that state is unreachable now: the served dir only ever
    // moves aside by rename.
    val base = java.nio.file.Files.createTempDirectory("g_swapcrash").toString
    val dataDir = s"$base/data"
    val tmpDir = s"${dataDir}_compact_tmp"
    val oldDir = s"${dataDir}_compact_old"
    val f = sources.IndexMaintenance.fsFor(spark, base)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def write(ids: Range, path: String): Unit =
      ids.map(_.toLong).toDF("vec_id").coalesce(1)
        .write.mode("overwrite").parquet(path)
    def ids(path: String): Set[Long] =
      spark.read.parquet(path).collect().map(_.getLong(0)).toSet
    val served = (0 until 10)
    val fresh = (0 until 5) // post-compaction contents

    // state: tmp alone (rewrite crashed mid-write) → recovery drops the
    // possibly-partial tmp, serving copy untouched
    write(served, dataDir); write(fresh, tmpDir)
    sources.IndexMaintenance.recoverDirSwap(f, dataDir)
    assert(!f.exists(p(tmpDir)) && ids(dataDir) === served.map(_.toLong).toSet)

    // state: old + tmp, dataDir absent (crash between the two renames;
    // tmp was COMPLETE by the swap's invariant) → roll FORWARD
    write(fresh, tmpDir)
    require(f.rename(p(dataDir), p(oldDir)))
    sources.IndexMaintenance.recoverDirSwap(f, dataDir)
    assert(ids(dataDir) === fresh.map(_.toLong).toSet)
    assert(!f.exists(p(oldDir)) && !f.exists(p(tmpDir)))

    // state: old + dataDir (crash after the swap, before dropping old)
    // → drop old, fresh copy keeps serving
    write(served, oldDir)
    sources.IndexMaintenance.recoverDirSwap(f, dataDir)
    assert(ids(dataDir) === fresh.map(_.toLong).toSet && !f.exists(p(oldDir)))

    // state: old alone (manual surgery / unknown) → roll BACK so data
    // serves again
    require(f.rename(p(dataDir), p(oldDir)))
    sources.IndexMaintenance.recoverDirSwap(f, dataDir)
    assert(ids(dataDir) === fresh.map(_.toLong).toSet && !f.exists(p(oldDir)))

    // end-to-end: compactAt interrupted between the renames, then simply
    // RE-RUN (the documented recovery action) — converges with no loss
    write(served, dataDir)
    Seq(7L, 8L, 9L).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$base/tombstones")
    write((0 until 7), tmpDir) // the live rows a crashed rewrite staged
    require(f.rename(p(dataDir), p(oldDir))) // crash here
    sources.IndexMaintenance.compactAt(spark, dataDir, base, "vec_id") {
      (live, t) => live.write.mode("overwrite").parquet(t)
    }
    assert(ids(dataDir) === (0 until 7).map(_.toLong).toSet)
    assert(!f.exists(p(s"$base/tombstones")) && !f.exists(p(oldDir)) &&
      !f.exists(p(tmpDir)))

    // — CATALOG-TABLE swap (IndexMaintenance.compact): same windows via
    // table renames; graft.* props must survive every path
    val t = "g_swapcrash_tbl"
    val tTmp = s"${t}_compact_tmp"
    val tOld = s"${t}_compact_old"
    Seq(t, tTmp, tOld, s"${t}_tombstones").foreach(n =>
      spark.sql(s"DROP TABLE IF EXISTS $n"))
    def buildTable(): Unit = {
      (0L until 10L).toDF("doc_id").write.mode("overwrite")
        .format("parquet").saveAsTable(t)
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.test.geom'='42')")
      sources.IndexMaintenance.tombstone(spark, t, Seq(8L, 9L).toDF("doc_id"))
    }
    def tableIds(): Set[Long] =
      spark.table(t).collect().map(_.getLong(0)).toSet
    def rewrite(live: org.apache.spark.sql.DataFrame, tmp: String): Unit =
      live.write.mode("overwrite").format("parquet").saveAsTable(tmp)

    // crash between the renames (served moved aside, fresh complete but
    // not yet renamed in) → a RE-RUN of compact recovers forward first
    buildTable()
    rewrite(sources.IndexMaintenance.liveRows(spark, t), tTmp)
    spark.sql(s"ALTER TABLE $tTmp SET TBLPROPERTIES ('graft.test.geom'='42')")
    spark.sql(s"ALTER TABLE $t RENAME TO $tOld") // crash here
    sources.IndexMaintenance.compact(spark, t)(rewrite)
    assert(tableIds() === (0L until 8L).toSet)
    assert(!spark.catalog.tableExists(tOld) && !spark.catalog.tableExists(tTmp))
    assert(!spark.catalog.tableExists(s"${t}_tombstones"))
    val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.test.geom").contains("42"),
      "graft props lost across a recovered swap")

    // crash after the swap, before DROP old → recovery just drops old
    spark.sql(s"DROP TABLE $t")
    buildTable()
    rewrite(sources.IndexMaintenance.liveRows(spark, t), tTmp)
    spark.sql(s"ALTER TABLE $t RENAME TO $tOld")
    spark.sql(s"ALTER TABLE $tTmp RENAME TO $t") // crash here
    sources.IndexMaintenance.recoverTableSwap(spark, t)
    assert(tableIds() === (0L until 8L).toSet)
    assert(!spark.catalog.tableExists(tOld))

    // roll back: old alone (no fresh copy) → served table restored
    spark.sql(s"ALTER TABLE $t RENAME TO $tOld")
    sources.IndexMaintenance.recoverTableSwap(spark, t)
    assert(tableIds() === (0L until 8L).toSet)
    assert(!spark.catalog.tableExists(tOld))
    Seq(t, s"${t}_tombstones").foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("maintenance advisor: tombstone pressure drives compact; leftovers and leases drive recover") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val docs = sources.Tables.documents(spark, sfDir)
    val t = "g_maint_adv"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val rm: java.io.File => Unit = { f =>
      def go(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(go)); x.delete()
      }
      go(f)
    }
    rm(new java.io.File(wh, t))
    operators.Dedup.writeClusterIndex(docs, t)
    def report() = sources.IndexMaintenance.maintenanceReport(spark, t).head()
    val clean = report()
    assert(clean.getAs[String]("recommendation") === "ok" &&
      clean.getAs[Long]("n_tombstoned") === 0L &&
      clean.getAs[Long]("n_rows") === clean.getAs[Long]("n_live"))
    // a heavy takedown slice pushes tombstone pressure over the default
    // 1% threshold → compact; counts are live-view consistent
    operators.Dedup.deleteFromClusterIndex(spark, t,
      docs.filter(col("doc_id") % 7 === 0).select("doc_id"))
    val dirty = report()
    assert(dirty.getAs[String]("recommendation") === "compact")
    assert(dirty.getAs[Long]("n_live") ===
      dirty.getAs[Long]("n_rows") - dirty.getAs[Long]("n_tombstoned"))
    assert(dirty.getAs[Long]("tombstone_bp") >= 100L)
    // a held lease (possibly a crashed writer) outranks compaction
    val lease = sources.IndexMaintenance.tableLeasePath(spark, t)
    val out = fs.create(p(lease), false); out.write('x'); out.close()
    assert(report().getAs[String]("recommendation") === "recover" &&
      report().getAs[Boolean]("lease_held"))
    fs.delete(p(lease), false)
    // so does a committed-but-unfolded staged append
    fs.mkdirs(p(s"$wh/${t}_staged_commit"))
    assert(report().getAs[String]("recommendation") === "recover" &&
      report().getAs[Boolean]("staged_leftover"))
    fs.delete(p(s"$wh/${t}_staged_commit"), true)
    assert(report().getAs[String]("recommendation") === "compact")
    // compaction clears the debt and the report agrees
    operators.Dedup.compactClusterIndex(spark, t)
    val post = report()
    assert(post.getAs[String]("recommendation") === "ok" &&
      post.getAs[Long]("n_tombstoned") === 0L)
    // the PATH twin: a committed retrain generation reads as recover
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("g_maint_ivf").toString
    operators.Similarity.writeIvfIndex(vecs, dir)
    assert(sources.IndexMaintenance.maintenanceReportAt(spark, dir)
      .head().getAs[String]("recommendation") === "ok")
    val mk = fs.create(p(s"$dir/_retrain_commit"), false); mk.close()
    val r = sources.IndexMaintenance.maintenanceReportAt(spark, dir).head()
    assert(r.getAs[String]("recommendation") === "recover" &&
      r.getAs[Boolean]("staged_leftover"))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("retrain swap: every crash window keeps a complete generation; a flat retrain drops a stale coarse book") {
    import org.apache.spark.sql.functions._
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("g_retrain_crash").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    operators.Similarity.writeIvfIndex(vecs.filter(col("vec_id") % 13 =!= 0), dir)
    def nAssigned() = spark.read.parquet(s"$dir/assigned").count()
    val baseCount = nAssigned()
    // a distinguishable staged generation: the same rows minus the
    // vec_id % 7 slice (the fold MECHANICS are under test, not Lloyd's)
    def stage(): Long = {
      val st = spark.read.parquet(s"$dir/assigned")
        .filter(col("vec_id") % 7 =!= 0)
      st.write.mode("overwrite").partitionBy("list_id")
        .parquet(s"$dir/assigned_retrain_tmp")
      spark.read.parquet(s"$dir/codebook").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/codebook_retrain_tmp")
      st.count()
    }
    // state: tmps staged, NO marker (crash mid-write) — recovery drops
    // the uncommitted generation; the served one is untouched
    stage()
    operators.Similarity.recoverRetrainSwap(spark, dir)
    assert(!fs.exists(p(s"$dir/assigned_retrain_tmp")))
    assert(nAssigned() === baseCount, "uncommitted retrain leaked in")
    // state: marker landed, nothing folded — recovery rolls FORWARD
    val stagedCount = stage()
    operators.Similarity.commitRetrain(fs, dir, Seq("assigned", "codebook"))
    operators.Similarity.recoverRetrainSwap(spark, dir)
    assert(nAssigned() === stagedCount)
    Seq("assigned_retrain_tmp", "codebook_retrain_tmp",
        "assigned_retrain_old", "codebook_retrain_old", "_retrain_commit")
      .foreach(n => assert(!fs.exists(p(s"$dir/$n")), s"leftover $n"))
    // state: crash MID-FOLD — assigned already swapped (tmp consumed,
    // old copy still aside), codebook tmp not yet folded
    val staged2 = stage()
    operators.Similarity.commitRetrain(fs, dir, Seq("assigned", "codebook"))
    assert(fs.rename(p(s"$dir/assigned"), p(s"$dir/assigned_retrain_old")))
    assert(fs.rename(p(s"$dir/assigned_retrain_tmp"), p(s"$dir/assigned")))
    operators.Similarity.recoverRetrainSwap(spark, dir)
    assert(nAssigned() === staged2)
    assert(!fs.exists(p(s"$dir/assigned_retrain_old")) &&
      !fs.exists(p(s"$dir/codebook_retrain_tmp")) &&
      !fs.exists(p(s"$dir/_retrain_commit")))
    // the recovered index still probes exactly (codebook ↔ assignment
    // from ONE generation — the old permanent-mismatch window is gone)
    val probe = operators.Similarity.ivfTopKExactIndexed(spark, dir, 7L, 10)
      .collect().toSeq
    val brute = operators.Similarity.bruteForceTopK(
      spark.read.parquet(s"$dir/assigned").select("vec_id", "embedding"),
      7L, 10).collect().toSeq
    assert(probe === brute)

    // — DOWNGRADE: a FLAT retrain over a formerly two-level index must
    // drop the coarse book (a survivor would route every later batch
    // pass through stale factored books against the new flat codebook)
    val dir2 = java.nio.file.Files.createTempDirectory("g_retrain_flat").toString
    val residue = vecs.filter(col("vec_id") % 13 =!= 0)
    operators.Similarity.writeTwoLevelIvfIndexWith(residue, dir2,
      operators.Similarity.headTwoLevelBooks(residue))
    assert(fs.exists(p(s"$dir2/codebook_coarse")))
    operators.Similarity.retrainIvfIndex(spark, dir2, nCentroids = 4,
      trainIters = 1)
    assert(!fs.exists(p(s"$dir2/codebook_coarse")),
      "flat retrain left a stale two-level coarse book")
    // appended batches now route flat and the exact probe stays exact
    operators.Similarity.appendToIvfIndex(spark, dir2,
      vecs.filter(col("vec_id") % 13 === 0))
    val probe2 = operators.Similarity.ivfTopKExactIndexed(spark, dir2, 7L, 10)
      .collect().toSeq
    val brute2 = operators.Similarity.bruteForceTopK(vecs, 7L, 10)
      .collect().toSeq
    assert(probe2 === brute2)
  }

  test("writer lease: a second concurrent writer fails loudly at acquire; fencing catches a mid-op steal; reentrant within the writer") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def holdLease(leaseFile: String): Unit = {
      val out = fs.create(p(leaseFile), false)
      out.write("foreign-writer-token".getBytes("UTF-8")); out.close()
    }

    // — TABLE op: with a foreign lease in place, an append ERRORS and
    // touches nothing (the silent-corruption alternative was two
    // writers double-appending band rows)
    val corpus = sources.Tables.documents(spark, sfDir)
    val residue = corpus.filter(col("doc_id") % 7 =!= 0)
    val batch = corpus.filter(col("doc_id") % 7 === 0)
    val mt = "g_lease_mh"
    spark.sql(s"DROP TABLE IF EXISTS $mt")
    val mtDir = new java.io.File(wh, mt)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(mtDir)
    val mtLease = sources.IndexMaintenance.tableLeasePath(spark, mt)
    fs.delete(p(mtLease), false)
    operators.Dedup.writeMinhashIndex(residue, mt)
    val before = spark.table(mt).count()
    holdLease(mtLease)
    val err = intercept[IllegalStateException] {
      operators.Dedup.appendToMinhashIndex(batch, mt)
    }
    assert(err.getMessage.contains("writer lease"))
    assert(spark.table(mt).count() === before, "failed acquire still wrote")
    // operator-verified break → the append proceeds and releases cleanly
    sources.IndexMaintenance.breakWriterLease(spark, mtLease)
    operators.Dedup.appendToMinhashIndex(batch, mt)
    assert(spark.table(mt).count() > before)
    assert(!fs.exists(p(mtLease)), "lease not released after completion")

    // — PATH-BASED op: same contract through the index-dir lease
    val vecs = sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("g_lease_ivf").toString
    operators.Similarity.writeIvfIndex(vecs.filter(col("vec_id") % 13 =!= 0), dir)
    holdLease(s"$dir/_writer_lease")
    intercept[IllegalStateException] {
      operators.Similarity.appendToIvfIndex(
        spark, dir, vecs.filter(col("vec_id") % 13 === 0))
    }
    sources.IndexMaintenance.breakWriterLease(spark, s"$dir/_writer_lease")
    operators.Similarity.appendToIvfIndex(
      spark, dir, vecs.filter(col("vec_id") % 13 === 0))
    assert(!fs.exists(p(s"$dir/_writer_lease")))

    // — FENCING: a lease broken and re-taken MID-OPERATION surfaces at
    // completion instead of reporting success over a doubly-written index
    val fenced = s"$wh/g_lease_fenced"
    fs.delete(p(fenced), false)
    val err2 = intercept[IllegalArgumentException] {
      sources.IndexMaintenance.withWriterLease(spark, fenced) {
        sources.IndexMaintenance.breakWriterLease(spark, fenced)
        holdLease(fenced) // the rogue writer
      }
    }
    assert(err2.getMessage.contains("changed hands"))
    fs.delete(p(fenced), false)

    // — REENTRANCY: an op that calls another op on the same resource
    // (the curation stream's shape) must not deadlock against itself —
    // while a DIFFERENT thread of the same JVM (two streaming queries
    // on one index) is a second writer and fails at acquire
    val re = s"$wh/g_lease_reentrant"
    val got = sources.IndexMaintenance.withWriterLease(spark, re) {
      sources.IndexMaintenance.withWriterLease(spark, re) {
        var crossThread: Option[Throwable] = None
        val t = new Thread(() =>
          try sources.IndexMaintenance.withWriterLease(spark, re) { () }
          catch { case e: Throwable => crossThread = Some(e) })
        t.start(); t.join()
        assert(crossThread.exists(_.isInstanceOf[IllegalStateException]),
          s"same-JVM cross-thread writer not refused: $crossThread")
        42
      }
    }
    assert(got === 42 && !fs.exists(p(re)))
    spark.sql(s"DROP TABLE IF EXISTS $mt")
  }

  test("top_k_by works as a registered SQL aggregate and matches a sort") {
    import spark.implicits._
    val rows = (1 to 200).map(i => ((i * 37 % 100).toDouble, i.toLong))
    rows.toDF("v", "id").createOrReplaceTempView("tk_in")
    val got = spark.sql(
      "SELECT top_k_by(v, id, 5) AS t FROM tk_in")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col("t")).as("e"))
      .select("e.payload").collect().map(_.getLong(0)).toSeq
    val expected = rows.sortBy { case (v, id) => (-v, id) }.take(5).map(_._2)
    assert(got === expected)
  }
}
