package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Empty-input sweep: a duplicate-free or empty corpus must flow through
 * every operator as an empty (or well-defined) result, never an NPE or
 * ANSI error. Round-4 ADVICE found exactly this class of bug in the
 * components convergence probe (sum over zero rows = SQL null); this
 * spec closes the class, not just the instance.
 */
class EmptyInputSpec extends TestBase {

  import org.apache.spark.sql.types._

  private def emptyDocs = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private def emptyEmb = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", LongType)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private def countOf(name: String)(df: => DataFrame): (String, Long) = {
    val n = df.count()
    graft.ops.Reuse.freeAll(spark)
    name -> n
  }

  test("dedup family: empty corpus flows through as empty, no NPE") {
    import graft.ops.Dedup
    val d = emptyDocs
    val results = Seq(
      countOf("ngramJaccard")(Dedup.ngramJaccard(d)),
      countOf("minhashLsh")(Dedup.minhashLsh(d)),
      countOf("simhashPairs")(Dedup.simhashPairs(d)),
      countOf("simhashPairsWide")(Dedup.simhashPairsWide(d)),
      countOf("benchmarkOverlap")(Dedup.benchmarkOverlap(d, d)),
      countOf("benchmarkLeakSpans")(Dedup.benchmarkLeakSpans(d, d)),
      countOf("keepRepresentatives")(
        Dedup.keepRepresentatives(d,
          Dedup.minhashLsh(d).select("id_a", "id_b"))),
      countOf("dedupeIncrement")(
        Dedup.dedupeIncrement(
          Dedup.bandedSignatures(Dedup.minhashSignatures(d)), d)))
    assert(results.forall(_._2 == 0L), results.toString)
    // pairRecall / pairPrecision contract to one well-defined zero row.
    import spark.implicits._
    val noPairs = emptyDocs
      .select(col("doc_id").as("id_a"), col("doc_id").as("id_b"))
    val pr = Dedup.pairRecall(noPairs, noPairs)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pr == Seq((0L, 0L, 0L)))
    assert(Dedup.pairPrecision(noPairs, noPairs)
      .as[(Long, Long, Long)].collect().toSeq == Seq((0L, 0L, 0L)))
    // r6 family: overlap matrix and novelty over an empty corpus
    assert(Dedup.keyOverlap(emptyDocs, "source").count() == 0L)
    assert(Dedup.noveltyScores(emptyDocs).count() == 0L)
  }

  test("text family: empty corpus flows through as empty, no NPE") {
    import graft.ops.TextOps
    val d = emptyDocs
    val results = Seq(
      countOf("langScores")(TextOps.langScores(d)),
      countOf("quality")(TextOps.quality(d)),
      countOf("tokenCounts")(TextOps.tokenCounts(d)),
      countOf("repetition")(TextOps.repetition(d)),
      countOf("fingerprints")(TextOps.fingerprints(d)),
      countOf("winnowingFingerprints")(TextOps.winnowingFingerprints(d)),
      countOf("chunkWithOverlap")(TextOps.chunkWithOverlap(d)),
      countOf("boilerplateRemoval")(TextOps.boilerplateRemoval(d)),
      countOf("lmQuality")(TextOps.lmQuality(d)),
      countOf("tfidfTopK")(TextOps.tfidfTopK(d)),
      countOf("invertedIndex")(TextOps.invertedIndex(d)),
      countOf("spanCorruption")(TextOps.spanCorruption(d)))
    assert(results.forall(_._2 == 0L), results.toString)
  }

  test("similarity family: empty corpus/queries flow through, no NPE") {
    import graft.ops.Similarity
    val e = emptyEmb
    val results = Seq(
      countOf("bruteTopK")(Similarity.bruteTopK(e, e, 5)),
      countOf("lshTopK")(Similarity.lshTopK(e, e, 5)),
      countOf("hardNegatives")(Similarity.hardNegatives(e, e, 5)),
      countOf("cosineNearDupPairs")(Similarity.cosineNearDupPairs(e)),
      countOf("randomProject")(Similarity.randomProject(e)),
      countOf("knnLabelAudit")(graft.ops.LabelAudit.knnLabelAudit(e, e)),
      countOf("labelCentroidOutliers")(
        graft.ops.LabelAudit.labelCentroidOutliers(e)),
      countOf("labelDispersion")(
        graft.ops.LabelAudit.labelDispersion(e)))
    assert(results.forall(_._2 == 0L), results.toString)
  }

  test("splits / sampling / packing: empty inputs flow through, no NPE") {
    import graft.ops.{Packing, Sampling, Splits}
    val d = emptyDocs
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val results = Seq(
      countOf("assign")(Splits.assign(d, col("doc_id"))),
      countOf("assignLeakageSafe")(Splits.assignLeakageSafe(d, noPairs)),
      countOf("shardAssign")(Splits.shardAssign(d, col("doc_id"), 8)),
      countOf("shardManifest")(Splits.shardManifest(d, col("doc_id"), 8)),
      countOf("tokenLedger")(
        Sampling.tokenLedger(d, 1000L, Seq("lang"))),
      countOf("stratifiedTopK")(
        Sampling.stratifiedTopK(d, Seq("lang"), col("doc_id"), 5)),
      countOf("temperatureResample")(
        Sampling.temperatureResample(d, col("doc_id"), 100L, Seq("lang"))),
      countOf("concatChunks")(Packing.concatChunks(d, col("doc_id"),
        col("n_chars"), 512L)),
      countOf("corpusDiff")(Sampling.corpusDiff(d, d, "lang")),
      countOf("corpusDiffFromVersioned") {
        val vSchema = StructType(Seq(StructField("_ver", LongType),
          StructField("_s", StringType), StructField("_id", LongType),
          StructField("_score", LongType),
          StructField("_toks", LongType)))
        Sampling.corpusDiffFromVersioned(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          vSchema), 0L, 1L, "lang")
      })
    assert(results.forall(_._2 == 0L), results.toString)
  }

  test("r7 ops: empty inputs flow through, no NPE") {
    import graft.ops.{Dedup, Packing, TextOps}
    val d = emptyDocs
    import spark.implicits._
    val noClusters = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    val results = Seq(
      countOf("packEfficiency")(
        Packing.packEfficiency(d, col("n_chars"), Seq(128L))),
      countOf("dedupWeights")(Dedup.dedupWeights(d, noClusters)),
      countOf("snapshotDiff")(Dedup.snapshotDiff(d, d)),
      countOf("rareTokens")(TextOps.rareTokens(d)),
      countOf("oovRate")(TextOps.oovRate(d)))
    assert(results.forall(_._2 == 0L), results.toString)
    graft.ops.Reuse.freeAll(spark)
  }

  test("r8 ops: empty inputs flow through, no NPE; one-row cards stay " +
      "one well-defined row") {
    import graft.ops.{Dedup, Similarity, TextOps}
    val d = emptyDocs
    val e = emptyEmb
    val results = Seq(
      countOf("dupSpanMass")(Dedup.dupSpanMass(d)),
      countOf("dupSpanSurgery")(Dedup.dupSpanSurgery(d)),
      countOf("decontaminationSurgery")(
        Dedup.decontaminationSurgery(d, d)),
      countOf("topSharedNgrams")(Dedup.topSharedNgrams(d)),
      countOf("piiAudit")(TextOps.piiAudit(d)), // grouped: 0 groups
      countOf("normAudit")(Similarity.normAudit(e)),
      countOf("int8TopK")(Similarity.int8TopK(e, e, 3)))
    assert(results.forall(_._2 == 0L), results.toString)
    // the fidelity audit is a GLOBAL aggregate: one row even on empty
    // input, with every quotient guarded to 0 instead of NULL/NaN
    import spark.implicits._
    val card = Similarity.int8FidelityAudit(e, e, 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(card == Seq((0L, 0L, 0L, 0L, 0L)))
    graft.ops.Reuse.freeAll(spark)
  }

  test("r8 batch-2 ops: empty inputs flow through, no NPE; cards stay " +
      "one well-defined zero row") {
    import graft.ops.{Sampling, Similarity, Sketches, TextOps}
    import spark.implicits._
    val d = emptyDocs
    val e = emptyEmb
    val results = Seq(
      countOf("semDedup")(
        Similarity.semDedup(e, Similarity.kmeansBuckets(e))),
      countOf("prototypePruning")(
        Similarity.prototypePruning(e, Similarity.kmeansBuckets(e))),
      countOf("knnDensity")(
        Similarity.knnDensity(e, Similarity.kmeansBuckets(e))),
      countOf("pqCodes")(Similarity.pqCodes(e, Similarity.pqCodebooks(e))),
      countOf("capAudit")(Sampling.capAudit(d, Seq("source"),
        col("doc_id"), size(split(col("text"), " ")).cast("long"), 15)),
      countOf("vocabOverlap")(TextOps.vocabOverlap(d)),
      countOf("gopherRepetitionCard")(TextOps.gopherRepetitionCard(d)),
      countOf("normalizationDupCard")(TextOps.normalizationDupCard(d)))
    assert(results.forall(_._2 == 0L), results.toString)
    // the global-aggregate cards: one all-zero row, never NULL
    val bloom = Sketches.bloomContaminationAudit(d, d)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(bloom == ((0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    val pqCard = Similarity.pqFidelityAudit(e, e, 3)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(pqCard == ((0L, 0L, 0L, 0L, 0L)))
    val rerank = Similarity.pqRerankRecallAudit(e, e, 3, 20)
      .as[(Long, Long, Long)].head()
    assert(rerank == ((0L, 0L, 0L)))
    val sdRecall = Similarity.semDedupRecallAudit(e,
      Similarity.kmeansBuckets(e)).as[(Long, Long, Long)].head()
    assert(sdRecall == ((0L, 0L, 0L)))
    graft.ops.Reuse.freeAll(spark)
  }

  test("r12 ops: empty inputs flow through, no NPE; funnel summary " +
      "stays well-defined at zero users") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val d = emptyDocs
    val e = emptyEmb
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType))))
    val emptyClusters = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("cluster_id", LongType))))
    val results = Seq(
      countOf("marginMine")(graft.ops.Similarity.marginMine(e, e)),
      countOf("marginMineIvf")(graft.ops.Similarity.marginMineIvf(e, e)),
      countOf("kCenterCoreset")(graft.ops.Similarity.kCenterCoreset(e)),
      countOf("balancedFolds")(graft.ops.Splits.balancedFolds(
        d, emptyClusters, 5, col("n_chars"))),
      countOf("trendingTopKAligned")(graft.ops.Decay.trendingTopKAligned(
        emptyEvents, col("event_type"), col("user_id"), col("ts"),
        86400000000L, 10)),
      countOf("zOrderAudit")(graft.ops.Layout.zOrderAudit(
        emptyEvents.select(col("user_id"), lit(0L).as("day")),
        col("user_id"), col("day"))),
      countOf("langSegments")(graft.ops.TextOps.langSegments(d)),
      countOf("textRank")(graft.ops.TextOps.textRank(d)),
      countOf("rrfFuse")(graft.ops.Similarity.rrfFuse(
        Seq(graft.ops.Similarity.bruteTopK(e, e, 3)), 5)))
    assert(results.forall(_._2 == 0L), s"non-empty: $results")
    // the funnel summary is |steps| rows BY DESIGN at zero users, with
    // ppm cells defined (no 0/0 ANSI error)
    val f = graft.agg.Windows.funnel(emptyEvents, col("user_id"),
        Seq("A", "B")).orderBy("step")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(f == Seq((1L, "A", 0L, 1000000L, 0L), (2L, "B", 0L, 0L, 0L)))
    graft.ops.Reuse.freeAll(spark)
  }

  test("r13 ops: empty inputs flow through, no NPE; per-doc and " +
      "per-plan cards stay well-defined") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val d = emptyDocs
    val e = emptyEmb
    val emptyAsg = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("bucket", LongType))))
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType))))
    val results = Seq(
      countOf("marginMineBucketed")(
        graft.ops.Similarity.marginMineBucketed(e, e, emptyAsg)),
      countOf("stupidBackoffScores")(
        graft.ops.TextOps.stupidBackoffScores(d)))
    assert(results.forall(_._2 == 0L), s"non-empty: $results")
    // the band-plan card is |plans| rows BY DESIGN on an empty corpus,
    // zero truth pairs, recall cells defined (no 0/0)
    val card = graft.ops.Dedup.lshBandPlan(d)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(card.size == 5 &&
      card.forall(r => r._3 == 0L && r._4 == 0L),
      s"empty-corpus band card drifted: $card")
    // the PSI card on an empty corpus is exactly its total tripwire
    // row, all-zero (coalesced sums, no 0/0)
    val psi = graft.ops.Reporting.psiDrift(d,
        col("doc_id") % 2 === 0, col("n_chars"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(psi == Seq((-1L, 0L, 0L, 1000000L, 1000000L, 0L, 0L)),
      s"empty-corpus psi card drifted: $psi")
    // selection quantiles: no strata on an empty corpus -> no probes,
    // empty result (not an NPE in the driver loop)
    assert(graft.ops.Sketches.selectionQuantiles(d, Seq("lang"),
      col("n_chars")).count() == 0L)
    // trend slopes: empty events -> empty card (null min period never
    // reaches the fit)
    assert(graft.agg.Windows.trendSlopes(emptyEvents,
      col("event_type")).count() == 0L)
    graft.ops.Reuse.freeAll(spark)
  }

  test("r14 ops: empty inputs flow through, no NPE; the pca iterate " +
      "stays the defined seed card") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val d = emptyDocs
    val e = emptyEmb
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType))))
    val emptyMerges = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("merge_rank", LongType),
        StructField("left_sym", StringType),
        StructField("right_sym", StringType),
        StructField("pair_count", LongType))))
    val results = Seq(
      countOf("bpeApplyCounts")(
        graft.ops.TextOps.bpeApplyCounts(d, emptyMerges, 3)),
      countOf("mooreLewisScores")(
        graft.ops.TextOps.mooreLewisScores(d, col("lang") === "en")),
      countOf("charEntropy")(graft.ops.TextOps.charEntropy(d)),
      countOf("ccnetBuckets")(graft.ops.TextOps.ccnetBuckets(d)),
      countOf("langidMargin")(graft.ops.TextOps.langidMargin(d)),
      countOf("anomalyDays")(graft.agg.Windows.anomalyDays(
        emptyEvents, col("event_type"))))
    assert(results.forall(_._2 == 0L), s"non-empty: $results")
    // pca on an empty corpus: the iterate never updates — the output
    // is the DEFINED all-ones seed (64 rows), not an NPE in the
    // driver normalize
    val pca = graft.ops.Similarity.pcaPowerDirection(e)
      .as[(Long, Long)].collect().toSeq
    assert(pca.size == 64 && pca.forall(_._2 == 1000000L),
      s"empty-corpus pca iterate drifted: ${pca.take(3)}")
    graft.ops.Reuse.freeAll(spark)
  }

  test("r14 batch-2 ops: empty inputs flow through, no NPE") {
    import org.apache.spark.sql.types._
    val d = emptyDocs
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("user_id", LongType),
        StructField("event_type", StringType))))
    val emptyCounts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("lang", StringType),
        StructField("_v", LongType),
        StructField("cnt", LongType))))
    val assets = graft.ops.Multimodal.assetsFromDocuments(d)
    val results = Seq(
      countOf("phashPairs")(
        graft.ops.Multimodal.phashPairs(assets, 11, 12)),
      countOf("bm25TopK")(
        graft.ops.TextOps.bm25TopK(d, Seq("a", "b"))),
      countOf("burstiness")(graft.agg.Windows.burstiness(
        emptyEvents, col("event_type"))),
      countOf("selectionQuantilesFromCounts")(
        graft.ops.Sketches.selectionQuantilesFromCounts(
          emptyCounts, Seq("lang"))))
    assert(results.forall(_._2 == 0L), s"non-empty: $results")
    // ext171 ledger on an empty corpus: ONE all-zero row, no NULLs
    val led = graft.ops.Multimodal.phashCandidateLedger(assets)
      .collect()
    assert(led.length == 1 && (0 until 6).forall(i =>
      !led.head.isNullAt(i) && led.head.getLong(i) == 0L),
      s"empty-corpus phash ledger drifted: ${led.toSeq}")
    // temporalSplitFromCounts on an empty partials relation: the same
    // empty card as the batch operator (no cutoff exists)
    val emptyTsCounts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("_u", LongType),
        StructField("_us", LongType),
        StructField("cnt", LongType))))
    assert(graft.ops.Splits.temporalSplitFromCounts(emptyTsCounts)
      .count() == 0L)
    graft.ops.Reuse.freeAll(spark)
  }

  test("ext85 on a duplicate-free corpus: one zero-savings row, no NULLs " +
      "(r7 ADVICE degenerate-case parity)") {
    // With zero dup clusters the family relation is empty; the report
    // must still be ONE well-defined row (0, 0, 0, corpus_toks, 0) —
    // the oracle SQL is guarded the same way (scalar subquery + COALESCE
    // instead of a cross join that would vanish with the empty side).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nodup")
      .toString
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight nine ten",
      "quick brown fox jumps over the lazy sleeping dog",
      "pack my box with five dozen assorted liquor jugs")
    texts.zipWithIndex
      .map { case (t, i) =>
        (i.toLong, t, "en", "src", t.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val rows = SparkEntry.queries("ext85_dedup_token_savings")(spark, dir)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      val toks = texts.map(_.split(" ").length.toLong).sum
      assert(rows == Seq((0L, 0L, 0L, toks, 0L)))
    } finally {
      graft.ops.Reuse.freeAll(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }
}
