package graft

import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.ops.Similarity

/** ANN scale paths vs the exact baseline: the bucket-restricted variants
  * must return exactly the brute-force ranking restricted to their
  * candidate sets, and recall on real embeddings should be non-trivial. */
class SimilaritySpec extends TestBase {

  private lazy val emb = Tables.embeddings(spark, sf("sf0.001"))
  private lazy val queries = emb.filter(col("vec_id") < 10)

  private def pcaReplay(rows: Seq[Array[Long]], iters: Int,
      dims: Int = 64): Array[Long] = {
    var v = Array.fill(dims)(1000000L)
    for (_ <- 1 to iters) {
      val y = Array.fill(dims)(BigInt(0))
      rows.foreach { q =>
        var dot = 0L
        var i = 0
        while (i < dims) { dot += q(i) * v(i); i += 1 }
        val du =
          if (dot < 0) -((-dot) / 1000000L) else dot / 1000000L
        i = 0
        while (i < dims) { y(i) += BigInt(q(i)) * du; i += 1 }
      }
      if (rows.nonEmpty) {
        val m = y.map(_.abs).max
        val pivot = y.indexWhere(_.abs == m)
        val flip = if (y(pivot) < 0) BigInt(-1) else BigInt(1)
        val mS = if (m > 0) m else BigInt(1)
        v = y.map(yi =>
          ((flip * yi.sign) * ((yi.abs * 1000000) / mS)).toLong)
      }
    }
    v
  }

  test("pca power direction: exact BigInt driver replay, pivot pinned " +
      "at +1e6, dominant axis wins on a constructed corpus (ext159)") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, 0.05f) ++ Array.fill(62)(0.0f)),
      (2L, Array(-0.52f, 0.04f) ++ Array.fill(62)(0.0f)),
      (3L, Array(0.01f, 0.2f) ++ Array.fill(62)(0.0f)),
      (4L, Array(0.49f, -0.03f) ++ Array.fill(62)(0.0f)))
      .toDF("vec_id", "embedding")
    def quantRows(df: org.apache.spark.sql.DataFrame): Seq[Array[Long]] =
      df.select("embedding").collect().map(_.getSeq[Float](0).toArray
        .map(x => math.floor(x.toDouble * 1000000.0).toLong)).toSeq
    val got = Similarity.pcaPowerDirection(vecs).orderBy("dim")
      .as[(Long, Long)].collect().toSeq
    val want = pcaReplay(quantRows(vecs), 3).zipWithIndex
      .map { case (vp, i0) => ((i0 + 1).toLong, vp) }.toSeq
    assert(got == want, s"engine != driver replay: ${got.take(4)}")
    // deterministic sign pin: the dominant axis (dim 1) is the pivot
    // and reads exactly +1e6 (L-inf normalization)
    assert(got.head == ((1L, 1000000L)), s"pivot row: ${got.head}")
    assert(got.map(_._2.abs).max == 1000000L)
    // real corpus: same law over the full embedding table
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val gotR = Similarity.pcaPowerDirection(emb).orderBy("dim")
      .as[(Long, Long)].collect().toSeq
    val wantR = pcaReplay(quantRows(emb.select("embedding")), 3)
      .zipWithIndex.map { case (vp, i0) => ((i0 + 1).toLong, vp) }.toSeq
    assert(gotR == wantR, "real-corpus engine != driver replay")
    graft.ops.Reuse.freeAll(spark)
  }

  test("pca power direction derives the dimension from the corpus: a " +
      "non-64-dim corpus works (engine == replay), a ragged corpus " +
      "fails with the typed message, not an NPE (r14 verdict #1)") {
    import spark.implicits._
    // 5-dim corpus: the r14 code would zip_with-pad to 64 and NPE in
    // the driver map; now the iterate is honestly 5 rows.
    val vecs5 = Seq(
      (1L, Array(0.9f, 0.1f, 0.0f, -0.2f, 0.05f)),
      (2L, Array(-0.8f, 0.0f, 0.1f, 0.25f, -0.1f)),
      (3L, Array(0.7f, -0.05f, 0.2f, -0.15f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pcaPowerDirection(vecs5).orderBy("dim")
      .as[(Long, Long)].collect().toSeq
    val rows5 = vecs5.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray
        .map(x => math.floor(x.toDouble * 1000000.0).toLong)).toSeq
    val want = pcaReplay(rows5, 3, dims = 5).zipWithIndex
      .map { case (vp, i0) => ((i0 + 1).toLong, vp) }.toSeq
    assert(got == want, s"5-dim engine != replay: $got")
    assert(got.size == 5 && got.map(_._2.abs).max == 1000000L)
    graft.ops.Reuse.freeAll(spark)
    // ragged corpus: loud typed failure (hyperplaneSignature
    // discipline), never a null-padded silent result
    val ragged = Seq(
      (1L, Array(0.5f, 0.1f)),
      (2L, Array(0.5f, 0.1f, 0.3f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.pcaPowerDirection(ragged).collect()
    }
    assert(ex.getMessage.contains("fixed embedding dimension"),
      s"wrong message: ${ex.getMessage}")
    graft.ops.Reuse.freeAll(spark)
    // PQ divisibility guard (kernel audit): a 6-dim corpus under 4
    // subspaces would silently slice 4x1 and drop 2 dims — loud now
    val sixDim = Seq((1L, Array.fill(6)(0.5f)), (2L, Array.fill(6)(0.1f)))
      .toDF("vec_id", "embedding")
    val exPq = intercept[Exception] {
      Similarity.pqCodebooks(sixDim).collect()
    }
    assert(exPq.getMessage != null &&
      exPq.getMessage.contains("divisible"),
      s"wrong pq failure: ${exPq.getMessage}")
    // divisible non-64 widths flow through: 8-dim codebooks cover the
    // full vector (sub-norms partition the norm)
    val eightDim = Seq((1L, Array.fill(8)(0.5f)),
      (2L, Array.tabulate(8)(i => 0.1f * i)))
      .toDF("vec_id", "embedding")
    assert(Similarity.pqCodes(eightDim,
      Similarity.pqCodebooks(eightDim)).count() > 0)
    graft.ops.Reuse.freeAll(spark)
  }

  test("ivf results are brute-force results filtered to the bucket") {
    import spark.implicits._
    val ivf = Similarity.ivfTopK(emb, queries, 3)
      .select("q_id", "t_id", "rank").as[(Long, Long, Long)].collect().toSet

    // expected: per query, exact cosine order among same-label candidates
    val labels = emb.select(col("vec_id").as("t_id"), col("label"))
    val bruteAll = Similarity.bruteTopK(emb, queries, Int.MaxValue)
    val qLabels = emb.select(col("vec_id").as("q_id"),
      col("label").as("q_label"))
    val expected = bruteAll
      .join(labels, "t_id").join(qLabels, "q_id")
      .filter(col("label") === col("q_label"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("t_id").asc)))
      .filter(col("r") <= 3)
      .select("q_id", "t_id", "r").as[(Long, Long, Long)].collect().toSet
    assert(ivf == expected)
  }

  test("hard negatives: below-threshold prefix of brute ranking (ext49)") {
    import spark.implicits._
    val neg = Similarity.hardNegatives(emb, queries, 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // Every mined negative is strictly below the near-dup threshold…
    assert(neg.nonEmpty && neg.forall(_._4 < 0.42))
    // …and per query they are EXACTLY the brute-force ranking with the
    // at/above-threshold (latent-positive) prefix removed.
    val expected = Similarity.bruteTopK(emb, queries, Int.MaxValue)
      .filter(col("cos") < 0.42)
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("t_id").asc)))
      .filter(col("r") <= 5)
      .select(col("q_id"), col("t_id"), col("r").cast("long"), col("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(neg.toSet == expected)
  }

  test("lsh candidates rank identically to brute within shared buckets") {
    import spark.implicits._
    val lsh = Similarity.lshTopK(emb, queries, 5)
      .select("q_id", "t_id", "cos").as[(Long, Long, Double)].collect()
    val brute = Similarity.bruteTopK(emb, queries, Int.MaxValue)
      .select("q_id", "t_id", "cos").as[(Long, Long, Double)]
      .collect().map { case (q, t, c) => (q, t) -> c }.toMap
    // every LSH-scored pair must carry the exact cosine brute computed
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (q, t, c) => brute((q, t)) == c })
  }

  test("cosine near-dup: planted duplicate pair found, orthogonal pair not") {
    import spark.implicits._
    // 1 and 2 are near-identical (cos ~ 1, identical LSH signature ⇒
    // always candidates); 3 is axis-orthogonal to both.
    val dim = 8
    val v = (1 to dim).map(_.toFloat).toArray
    val vNear = v.updated(0, 1.001f)
    // orthogonal to v: 1*2 + 2*(-1) + 0... = 0
    val vOrth = Array.tabulate(dim)(i =>
      if (i == 0) 2f else if (i == 1) -1f else 0f)
    val df = Seq((1L, v), (2L, vNear), (3L, vOrth))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(df, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("cosine near-dup pairs carry the exact brute-force cosine") {
    import spark.implicits._
    val pairs = Similarity.cosineNearDupPairs(emb, threshold = 0.3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    val brute = Similarity.bruteTopK(emb, emb, Int.MaxValue)
      .select("q_id", "t_id", "cos").as[(Long, Long, Double)]
      .collect().map { case (q, t, c) => (q, t) -> c }.toMap
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, c) => brute((a, b)) == c && a < b })
  }

  test("brute top-1 recall@10 of IVF is sane on clustered embeddings") {
    import spark.implicits._
    val brute1 = Similarity.bruteTopK(emb, queries, 1)
      .select("q_id", "t_id").as[(Long, Long)].collect().toMap
    val ivf10 = Similarity.ivfTopK(emb, queries, 10)
      .select("q_id", "t_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = brute1.count { case (q, t) =>
      ivf10.get(q).exists(_.contains(t)) }
    // label buckets are real clusters in this data or they aren't —
    // either way the metric must be computable; assert non-degenerate
    assert(hits >= 0 && brute1.nonEmpty)
    info(s"IVF recall@10 of brute top-1: $hits/${brute1.size}")
  }

  test("kmeans buckets partition the corpus and feed ivfTopK (ext28)") {
    import spark.implicits._
    val buckets = Similarity.kmeansBuckets(emb, k = 8, iters = 2)
    val n = emb.count()
    // a total assignment: every vector exactly one bucket
    assert(buckets.count() == n)
    assert(buckets.select("vec_id").distinct().count() == n)
    val used = buckets.select("bucket").distinct().count()
    assert(used > 1 && used <= 8, s"degenerate clustering: $used buckets")
    // identical vectors must land in the same bucket (distance ties
    // break on centroid id, not row identity); duplicate the max-id row
    // (never a seed) under a fresh id — limit(1) without an order would
    // pick a different row per evaluation.
    val srcId = emb.agg(max("vec_id")).as[Long].head
    val dup = emb.filter(col("vec_id") === srcId)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val both = Similarity.kmeansBuckets(emb.union(dup), k = 8, iters = 2)
      .filter(col("vec_id") === srcId ||
        col("vec_id") === srcId + 1000000L)
      .select("bucket").as[Long].collect()
    assert(both.length == 2 && both(0) == both(1),
      s"equal vectors assigned to different buckets: ${both.toSeq}")
    // the constructed buckets drop into the IVF search path unchanged
    val withBucket = emb.join(buckets, "vec_id")
    val res = Similarity.ivfTopK(withBucket,
      withBucket.filter(col("vec_id") < 5), 3, bucket = "bucket")
    assert(res.count() > 0)
  }

  test("multi-probe assignment: rank 1 == argmin buckets; ranks dense " +
      "and buckets distinct per vector; recall never below single-probe") {
    import spark.implicits._
    val probes = Similarity.kmeansProbeBuckets(emb, probes = 3)
      .as[(Long, Long, Long)].collect().toSeq
    val byVec = probes.groupBy(_._1)
    assert(byVec.values.forall { g =>
      g.map(_._3).sorted == Seq(1L, 2L, 3L) &&
        g.map(_._2).distinct.size == 3
    })
    val argmin = Similarity.kmeansBuckets(emb)
      .as[(Long, Long)].collect().toMap
    assert(byVec.forall { case (v, g) =>
      g.find(_._3 == 1L).get._2 == argmin(v)
    })
    // Probing more buckets can only add candidates: the 2-probe top-k
    // hit set contains the 1-probe hit set intersected with truth.
    val queries = emb.filter(col("vec_id") < 5)
    val truth = Similarity.bruteTopK(emb, queries, 3)
      .select("q_id", "t_id").as[(Long, Long)].collect().toSet
    def hits(p: Int): Set[(Long, Long)] = {
      val pr = Similarity.kmeansProbeBuckets(emb, probes = p)
      val corpus = emb.join(pr.filter(col("probe_rank") === 1)
        .select("vec_id", "bucket"), "vec_id")
      val qs = emb.join(pr.select("vec_id", "bucket"), "vec_id")
        .filter(col("vec_id") < 5)
      Similarity.ivfTopK(corpus, qs, 3, bucket = "bucket")
        .select("q_id", "t_id").as[(Long, Long)].collect().toSet
        .intersect(truth)
    }
    assert(hits(1).subsetOf(hits(2)))
    graft.ops.Reuse.freeAll(spark)
  }

  test("ext58 probe-recall curve: n_true constant, recall monotone in " +
      "probes; build-once index cached across calls with rank1 == argmin") {
    import spark.implicits._
    val rows = SparkEntry.queries("ext58_ivf_multiprobe_recall")(
        spark, sf("sf0.001"))
      .select("probes", "n_true", "n_detected", "recall_q")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L))
    // one truth set prices every curve row
    assert(rows.map(_._2).distinct.length == 1)
    // more probes can only add candidates — recall is nondecreasing
    assert(rows.map(_._4).toSeq == rows.map(_._4).sorted.toSeq,
      s"recall not monotone in probes: ${rows.toSeq}")
    // the index is built once per (session, key, params): the second
    // call returns the SAME cached checkpoint frame (eq, not equals)
    val i1 = Similarity.kmeansProbeIndex(emb, cacheKey = "spec-cache")
    val i2 = Similarity.kmeansProbeIndex(emb, cacheKey = "spec-cache")
    assert(i1 eq i2)
    // and its rank-1 slice is the kmeansBuckets assignment bit-exactly
    val fromIndex = i1.filter(col("probe_rank") === 1)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    val argmin2 = Similarity.kmeansBuckets(emb)
      .as[(Long, Long)].collect().toMap
    assert(fromIndex == argmin2)
    graft.ops.Reuse.freeAll(spark)
  }

  test("ext60 bucket-balance audit: totals cover the corpus, imbalance " +
      "bounded below by perfectly-even (1e6)") {
    import spark.implicits._
    val row = SparkEntry.queries("ext60_ivf_balance")(spark, sf("sf0.001"))
      .select("n_buckets", "n_vectors", "max_bucket", "min_bucket",
        "imbalance_q")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(row.length == 1)
    val (nb, nv, mx, mn, imb) = row.head
    assert(nv == emb.count(), "every vector assigned to exactly one bucket")
    assert(mn >= 1 && mn <= mx && mx <= nv)
    // max*nb >= n by pigeonhole, so the quantized factor is >= 1e6
    assert(imb >= 1000000L, s"imbalance_q $imb below the even floor")
    graft.ops.Reuse.freeAll(spark)
  }

  test("int8 codes: max-abs maps to ±extremes, zero vector to zeros, " +
      "all codes clamped to [-127, 127] (ext93)") {
    import spark.implicits._
    val v = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val codes = v.select(col("vec_id"),
        graft.functions.Int8Vector(
          Similarity.quantize(col("embedding"))).as("q8"))
      .as[(Long, Seq[Long])].collect().toMap
    // q = [500000, -1000000, 250000, 0], m = 1000000:
    // ((q+m)*254) DIV (2m) - 127
    assert(codes(1L) == Seq(63L, -127L, 31L, 0L))
    assert(codes(2L) == Seq(0L, 0L, 0L, 0L))
    // fuzz the clamp over the real embeddings: every code in range
    val mx = emb.select(
        graft.functions.Int8Vector(
          Similarity.quantize(col("embedding"))).as("q8"))
      .select(array_max(col("q8")).as("hi"), array_min(col("q8")).as("lo"))
      .agg(max("hi"), min("lo")).as[(Long, Long)].head()
    assert(mx._1 <= 127L && mx._2 >= -127L)
  }

  test("int8 fidelity card: ppm/mae arithmetic exact; perfect corpus " +
      "scores full overlap with zero-ish error (ext93)") {
    import spark.implicits._
    // axis-aligned well-separated vectors: int8 cannot reorder them
    val vs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val card = Similarity.int8FidelityAudit(
        vs, vs.filter(col("vec_id") === 0L), 2)
      .as[(Long, Long, Long, Long, Long)].head()
    val (nq, np, novl, ppm, mae) = card
    assert(nq == 1L && np == 2L)
    assert(novl == 2L && ppm == 1000000L,
      s"well-separated corpus must agree at k=2, got $card")
    assert(mae >= 0L && mae < 20000000L, // |cos8-cos| < 0.02 in q9 units
      s"int8 error implausibly large: $mae")
    // the int8 ranking itself carries cos8 and dense ranks
    val i8 = Similarity.int8TopK(vs, vs.filter(col("vec_id") === 0L), 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(i8.map(_._3) == Seq(1L, 2L, 3L))
    assert(i8.head._2 == 1L, "nearest neighbor of e1-ish is the 0.9/0.1 mix")
  }

  test("norm audit: zero vectors counted, exact min/max/mean per label " +
      "(ext95)") {
    import spark.implicits._
    val vs = Seq(
      (1L, Array(1.0f, 0.0f), 0L),
      (2L, Array(0.0f, 0.0f), 0L), // the cosine-poison degenerate
      (3L, Array(2.0f, 0.0f), 1L)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.normAudit(vs).orderBy("label")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 1L, 0L, 1000000000000L, 500000000000L),
      (1L, 1L, 0L, 4000000000000L, 4000000000000L, 4000000000000L)))
  }

  test("pq: a corpus of <= K distinct repeated vectors reconstructs " +
      "exactly — ADC == brute, perfect fidelity card (ext107)") {
    import spark.implicits._
    // 12 distinct 8-dim patterns (< K = 16 codes), repeated twice;
    // seeds cover every pattern, so Lloyd's converges to the patterns
    // themselves and the ADC reconstruction is EXACT.
    def pat(p: Int) = Array.tabulate(8)(i =>
      (((p * 31 + i * 7) % 11) - 5 + (if (i == p % 8) 7 else 0)).toFloat)
    val vs = (0 until 24).map(i => (i.toLong, pat(i % 12)))
      .toDF("vec_id", "embedding")
    val qs = vs.filter(col("vec_id") < 5)
    // one code per (vector, subspace)
    val cb = Similarity.pqCodebooks(vs)
    val codes = Similarity.pqCodes(vs, cb)
    assert(codes.count() == 24L * Similarity.PqSubspaces)
    assert(codes.groupBy("vec_id", "m").count()
      .filter(col("count") =!= 1L).isEmpty)
    val card = Similarity.pqFidelityAudit(vs, qs, 3)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(card == ((5L, 15L, 15L, 1000000L, 0L)))
    val pq = Similarity.pqTopK(vs, qs, 3)
      .select("q_id", "t_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    val br = Similarity.bruteTopK(vs, qs, 3)
      .select("q_id", "t_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    assert(pq == br)
    // real embeddings: the audit prices a real, nonzero error
    val real = Similarity.pqFidelityAudit(emb, queries, 3)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(real._3 < real._2 && real._5 > 0L)
  }

  test("pq rerank: full-pool rerank is exact; recall >= raw ADC " +
      "overlap (ext108)") {
    import spark.implicits._
    // candidates >= |corpus|-1 → the pool is everything → the exact
    // rerank IS brute → recall must read 1e6.
    val n = emb.count().toInt
    val all = Similarity.pqRerankRecallAudit(emb, queries, 3, n)
      .as[(Long, Long, Long)].head()
    assert(all._2 == all._1 && all._3 == 1000000L)
    // A true top-3 pair that reaches the candidate pool ALWAYS
    // survives exact rerank at k=3 (at most 2 vectors beat it
    // globally, so at most 2 pool members outrank it) — so rerank
    // recall is >= the raw ADC top-3 overlap, at any pool size.
    val rr = Similarity.pqRerankRecallAudit(emb, queries, 3, 20)
      .as[(Long, Long, Long)].head()
    val raw = Similarity.pqFidelityAudit(emb, queries, 3)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(rr._1 == raw._2 && rr._2 >= raw._3,
      s"rerank detected ${rr._2} < raw ADC overlap ${raw._3}")
  }

  test("ivfpq: probing every bucket degenerates to pqRerankTopK " +
      "exactly; fewer probes only shrink the reachable set (ext117)") {
    import spark.implicits._
    val probeIdx = Similarity.kmeansProbeBuckets(emb, k = 8, iters = 2,
      probes = 8).localCheckpoint(true)
    // probes = k_centroids ⇒ the ADC pool is every target ⇒ the
    // composed operator IS the two-stage rerank, row for row
    val all = Similarity.ivfPqTopK(emb, queries, probeIdx, 3,
        probes = 8, candidates = 20)
      .as[(Long, Long, Long, Double)].collect().toSet
    val rerank = Similarity.pqRerankTopK(emb, queries, 3, 20)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(all == rerank)
    // at p < k the result stays inside the probed buckets: every hit's
    // target bucket is among its query's 2 nearest centroids
    val got = Similarity.ivfPqTopK(emb, queries, probeIdx, 3,
      probes = 2, candidates = 20)
    val tb = probeIdx.filter(col("probe_rank") === 1)
      .select(col("vec_id").as("t_id"), col("bucket"))
    val qb = probeIdx.filter(col("probe_rank") <= 2)
      .select(col("vec_id").as("q_id"), col("bucket"))
    val outside = got.join(tb, "t_id").join(qb, Seq("q_id", "bucket"),
      "left_anti")
    assert(outside.isEmpty)
    graft.ops.Reuse.freeAll(spark)
  }

  test("ivfpq probe curve: n_true constant, quantization exact, p=1 " +
      "row equals scoring the p=1 operator directly (ext118)") {
    import spark.implicits._
    val probeIdx = Similarity.kmeansProbeBuckets(emb, k = 8, iters = 2,
      probes = 4).localCheckpoint(true)
    val curve = Similarity.ivfPqProbeCurve(emb, queries, probeIdx,
        Seq(1, 2, 4), 3, 20)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(curve.map(_._1) == Seq(1L, 2L, 4L))
    assert(curve.map(_._2).distinct.size == 1) // truth is fixed
    curve.foreach { r =>
      assert(r._4 == r._3 * 1000000L / r._2) // recall_q exact
      assert(r._3 <= r._2)
    }
    // NOTE: recall at fixed `candidates` need NOT be monotone in p —
    // extra probed buckets add ADC-ranked candidates that can displace
    // true neighbors from the fixed top-20 pool (candidate dilution;
    // production grows C with p) — and a restricted pool can likewise
    // beat the full pool by excluding ADC imposters. The curve's rows
    // ARE each probe level's operator result: the p=1 row must equal
    // scoring ivfPqTopK(p=1) against the brute-force truth directly.
    val truth = Similarity.bruteTopK(emb, queries, 3)
      .select(col("q_id").as("id_a"), col("t_id").as("id_b"))
    val p1 = Similarity.ivfPqTopK(emb, queries, probeIdx, 3,
        probes = 1, candidates = 20)
      .select(col("q_id").as("id_a"), col("t_id").as("id_b"))
    val direct = graft.ops.Dedup.pairRecall(truth, p1)
      .as[(Long, Long, Long)].head()
    assert((curve.head._2, curve.head._3, curve.head._4) == direct)
    graft.ops.Reuse.freeAll(spark)
  }

  test("semantic decontamination: planted paraphrase flagged with its " +
      "bench item, orthogonal clean, equal-cos ties to the lower bench " +
      "id (ext122)") {
    import spark.implicits._
    val bench = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(2.0f, 0.0f)),   // scaled copy of bench 1 → cos 1
      (11L, Array(3.0f, 3.0f)),   // equal cos to both → tie → bench 1
      (12L, Array(-5.0f, 0.0f)))  // best is cos 0 vs bench 2 → clean
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(corpus, bench)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L)._1 == 1L && got(10L)._3 == 1L &&
      math.abs(got(10L)._2 - 1.0) < 1e-9)
    assert(got(11L)._1 == 1L && got(11L)._3 == 1L)
    assert(got(12L)._1 == 2L && got(12L)._3 == 0L &&
      math.abs(got(12L)._2) < 1e-9)
    // an EMPTY bench must keep the one-row-per-corpus-vector contract
    // (contaminated = 0, null bench_id/max_cos), never an empty frame
    // a sink could mistake for "nothing contaminated" with rows lost
    // (r9 ADVICE)
    val noBench = Similarity.semanticDecontaminate(corpus, bench.limit(0))
      .collect().sortBy(_.getLong(0))
    assert(noBench.length == 3)
    assert(noBench.forall(r => r.isNullAt(1) && r.isNullAt(2) &&
      r.getLong(3) == 0L))
  }

  test("bucket rebalance: oversized bucket splits into its two " +
      "sub-clusters, kept buckets rescale, consumers take the " +
      "assignment unchanged, re-application composes (ext124)") {
    import spark.implicits._
    // bucket 100 (6 members, two clear L2 sub-clusters around x=1.1
    // and x=10.1); bucket 200 (2 members, under any cap)
    val e = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.1f, 0.0f)),
      (3L, Array(1.2f, 0.0f)), (4L, Array(10.0f, 0.0f)),
      (5L, Array(10.1f, 0.0f)), (6L, Array(10.2f, 0.0f)),
      (7L, Array(5.0f, 5.0f)), (8L, Array(-5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val bk = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 100L,
      5L -> 100L, 6L -> 100L, 7L -> 200L, 8L -> 200L)
      .toDF("vec_id", "bucket")
    val reb = Similarity.splitOversizedBuckets(e, bk, maxBucket = 3)
      .as[(Long, Long)].collect().toMap
    // split parent 100 -> children 100*2+{0,1}; kept 200 -> 400
    assert(Seq(1L, 2L, 3L).map(reb) == Seq(200L, 200L, 200L))
    assert(Seq(4L, 5L, 6L).map(reb) == Seq(201L, 201L, 201L))
    assert(reb(7L) == 400L && reb(8L) == 400L)
    // consumers unchanged: semDedup over the rebalanced assignment
    // still collapses the colinear (cos 1) families within each child
    // to their lowest-id keeper, and leaves the orthogonal pair alone
    val kept = Similarity.semDedup(e,
        Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).map(v => v -> reb(v))
          .toDF("vec_id", "bucket"))
      .select("vec_id", "kept").as[(Long, Long)].collect().toMap
    assert(kept == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 1L,
      5L -> 0L, 6L -> 0L, 7L -> 1L, 8L -> 1L))
    // duplicate-family hardening (r13): low ids are an IDENTICAL
    // family — raw smallest-vid seeding would pick two equal seeds,
    // tie every member into child 0 and stall; distinct-vector
    // representative seeding must still separate the two sub-clusters
    val dup = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f)), (4L, Array(1.0f, 0.0f)),
      (5L, Array(10.0f, 0.0f)), (6L, Array(10.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val dupBk = (1L to 6L).map(_ -> 100L).toDF("vec_id", "bucket")
    val dupReb = Similarity.splitOversizedBuckets(dup, dupBk,
        maxBucket = 4).as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).map(dupReb).distinct.size == 1)
    assert(Seq(5L, 6L).map(dupReb).distinct.size == 1)
    assert(dupReb(1L) != dupReb(5L),
      s"identical-family seeds stalled the split: $dupReb")
    // nothing oversized: pure rescale — re-application composes (a
    // second level would multiply by `split` again)
    val reb2 = Similarity.splitOversizedBuckets(e,
        Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L).map(v => v -> reb(v))
          .toDF("vec_id", "bucket"), maxBucket = 3)
      .as[(Long, Long)].collect().toMap
    assert(reb2 == reb.map { case (v, b) => v -> b * 2 })
    // composite-id overflow is ENFORCED, not assumed (r10 ADVICE): a
    // bucket id past Long.Max/split fails loudly instead of wrapping
    val huge = Seq(7L -> (Long.MaxValue / 2 + 1), 8L -> 0L)
      .toDF("vec_id", "bucket")
    val ex = intercept[Exception] {
      Similarity.splitOversizedBuckets(
        e.filter(col("vec_id") >= 7L), huge, maxBucket = 3).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("overflow")),
      s"expected the overflow guard, got: $ex")
  }

  test("rebalanced IVF-PQ search == unsplit search: the split is " +
      "layout-transparent to retrieval (ext124 x ext117)") {
    val emb = graft.ingest.Tables.embeddings(spark, sf("sf0.001"))
    val probeIdx = Similarity.kmeansProbeBuckets(emb, probes = 2)
      .localCheckpoint(true)
    val reb = Similarity.splitOversizedBuckets(emb,
        probeIdx.filter(col("probe_rank") === 1)
          .select("vec_id", "bucket"),
        maxBucket = 40, split = 2)
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < 10)
    val cb = Similarity.pqCodebooks(emb).localCheckpoint(true)
    val base = Similarity.ivfPqTopK(emb, queries, probeIdx, 3,
      probes = 2, codebooks = Some(cb))
    val split = Similarity.ivfPqTopKRebalanced(emb, queries, probeIdx,
      reb, split = 2, k = 3, probes = 2, codebooks = Some(cb))
    assert(split.count() == base.count() && base.count() > 0)
    assert(split.except(base).isEmpty && base.except(split).isEmpty,
      "rebalanced-index search differs from the unsplit search")
    graft.ops.Reuse.freeAll(spark)
  }

  test("prototype pruning: within-bucket percent-rank of centroid " +
      "distance; easy/hard keep halves partition each bucket (ext119)") {
    import spark.implicits._
    // bucket 10: four vectors on a line — centroid mean pulls to the
    // middle, so distances rank deterministically; bucket 20: singleton
    val e = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(2.0f, 0.0f)), (4L, Array(9.0f, 0.0f)),
      (5L, Array(100.0f, 100.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 20L))
      .toDF("vec_id", "bucket")
    val easy = Similarity.prototypePruning(e, b, 500000L, "easy")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._4, r._5))).toMap
    val hard = Similarity.prototypePruning(e, b, 500000L, "hard")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._5).toMap
    // centroid of bucket 10 = (3, 0): dists rank 3 < 2 < 1 < 4 →
    // proto_ppm 0 / 333333 / 666666 / 1e6 on ids 3, 2, 1, 4
    assert(easy(3L) == ((0L, 1L)) && easy(2L) == ((333333L, 1L)))
    assert(easy(1L) == ((666666L, 0L)) && easy(4L) == ((1000000L, 0L)))
    // hard is the complement within the bucket
    assert((1L to 4L).forall(id => hard(id) == 1L - easy(id)._2))
    // singleton: proto_ppm 0 → kept by easy, dropped by hard (< 1e6)
    assert(easy(5L) == ((0L, 1L)) && hard(5L) == 0L)
    // realism: on sf0.001 the hard half keeps ~half the corpus
    val kept = Similarity.prototypePruning(emb,
        Similarity.kmeansBuckets(emb), 500000L, "hard")
      .agg(sum("kept"), count(lit(1))).as[(Long, Long)].head()
    assert(kept._1 > kept._2 * 2 / 5 && kept._1 < kept._2 * 3 / 5,
      s"hard-half keep rate off: $kept")
    graft.ops.Reuse.freeAll(spark)
  }

  test("knn density: exact per-bucket neighbor stats; short buckets " +
      "report their true count; singletons surface with 0 (ext120)") {
    import spark.implicits._
    // bucket 10: three identical vectors + one distant; bucket 20:
    // singleton. k=2.
    val e = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f)), (4L, Array(3.0f, 0.0f)),
      (9L, Array(5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (9L, 20L))
      .toDF("vec_id", "bucket")
    val got = Similarity.knnDensity(e, b, 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    // identical trio: two zero-distance neighbors each
    (1L to 3L).foreach(id => assert(got(id) == ((2L, 0L, 0L))))
    // the distant one: both nearest are at |2e6|^2 = 4e12
    assert(got(4L) == ((2L, 4000000000000L, 4000000000000L)))
    // singleton bucket: surfaced, not dropped
    assert(got(9L) == ((0L, -1L, -1L)))
    // k larger than the bucket: true counts, not padding
    val wide = Similarity.knnDensity(e, b, 50).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide(1L) == 3L && wide(9L) == 0L)
    graft.ops.Reuse.freeAll(spark)
  }

  test("semdedup: drop iff a lower-id cluster-mate reaches the " +
      "threshold; min-id per bucket survives (ext101)") {
    import spark.implicits._
    val buckets = Similarity.kmeansBuckets(emb)
    val got = Similarity.semDedup(emb, buckets)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // Independent driver-side recompute with the same quantization.
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (i, v) =>
        i -> v.map(x => math.floor(x.toDouble * 1e6).toLong)
      }.toMap
    val bk = buckets.as[(Long, Long)].collect().toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val n2 = (v: Array[Long]) => v.map(x => x * x).sum
      dot.toDouble / math.sqrt(n2(a).toDouble * n2(b).toDouble)
    }
    val expected = vecs.keys.toSeq.sorted.map { i =>
      val dropped = vecs.keys.exists(j => j < i && bk(j) == bk(i) &&
        cos(vecs(j), vecs(i)) >= Similarity.NearDupThreshold)
      (i, bk(i), if (dropped) 0L else 1L)
    }
    assert(got == expected)
    // the audit is non-trivial on this corpus: some drops, some keeps
    assert(got.exists(_._3 == 0L) && got.exists(_._3 == 1L))
    // min-id of every bucket is always kept
    val minIds = bk.groupBy(_._2).map { case (_, m) => m.keys.min }.toSet
    assert(got.filter(r => minIds(r._1)).forall(_._3 == 1L))
    // an impossible threshold keeps everything
    val all = Similarity.semDedup(emb, buckets, threshold = 1.01)
      .as[(Long, Long, Long)].collect()
    assert(all.forall(_._3 == 1L))
    // the exposed pair relation is exactly the drop evidence: a vector
    // is dropped iff it appears as id_b in some pair
    val pairDrops = Similarity.semDedupPairs(emb, buckets)
      .select("id_b").as[Long].collect().toSet
    assert(got.filter(_._3 == 0L).map(_._1).toSet == pairDrops)
  }

  test("semdedup probe curve: p=1 row equals the single-bucket audit, " +
      "recall monotone in p, n_true constant (ext110)") {
    import spark.implicits._
    val probeIdx = Similarity.kmeansProbeBuckets(emb, probes = 4)
    val curve = Similarity.semDedupProbeCurve(emb, probeIdx, Seq(1, 2, 4))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(curve.map(_._1) == Seq(1L, 2L, 4L))
    assert(curve.map(_._2).distinct.size == 1) // truth never changes
    assert(curve.map(_._3) == curve.map(_._3).sorted,
      s"detected must be monotone in probes: $curve")
    val card = Similarity.semDedupRecallAudit(emb,
      probeIdx.filter(col("probe_rank") === 1).select("vec_id", "bucket"))
      .as[(Long, Long, Long)].head()
    assert((curve.head._2, curve.head._3, curve.head._4) == card)
  }

  test("probed semdedup operator: p=1 == semDedup bit-exactly; p=4 " +
      "drops the higher id of EVERY exact near-dup pair (reaches " +
      "ext110's 100% recall row); drop set monotone in p (ext129)") {
    import spark.implicits._
    val probeIdx = Similarity.kmeansProbeBuckets(emb, probes = 4)
    val single = Similarity.semDedup(emb,
      probeIdx.filter(col("probe_rank") === 1).select("vec_id", "bucket"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val p1 = Similarity.semDedupProbed(emb, probeIdx, probes = 1)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(p1 == single, "p=1 must equal the single-bucket operator")

    def droppedAt(p: Int): Set[Long] =
      Similarity.semDedupProbed(emb, probeIdx, probes = p)
        .filter(col("kept") === 0L).select("vec_id")
        .as[Long].collect().toSet
    val d1 = droppedAt(1); val d2 = droppedAt(2); val d4 = droppedAt(4)
    assert(d1.subsetOf(d2) && d2.subsetOf(d4),
      "drop set must be monotone in probes (replicas only add pairs)")

    // p=4 reaches the curve's 100% row on this corpus (ext110): the
    // higher id of every EXACT all-pairs near-dup is dropped.
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (i, v) =>
        i -> v.map(x => math.floor(x.toDouble * 1e6).toLong)
      }.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val n2 = (v: Array[Long]) => v.map(x => x * x).sum
      dot.toDouble / math.sqrt(n2(a).toDouble * n2(b).toDouble)
    }
    val ids = vecs.keys.toSeq.sorted
    val truthDropped = ids.filter(i => ids.exists(j => j < i &&
      cos(vecs(j), vecs(i)) >= Similarity.NearDupThreshold)).toSet
    assert(truthDropped.nonEmpty, "no exact near-dups — law is vacuous")
    assert(d4 == truthDropped,
      s"p=4 operator must drop exactly the exact-truth set: " +
        s"missing ${truthDropped -- d4}, extra ${d4 -- truthDropped}")
    // and p=1 genuinely misses some of them on this corpus (ext109's
    // measured miss mass — the reason the knob exists)
    assert(d1 != truthDropped, "p=1 already exact — probe law vacuous")
    graft.ops.Reuse.freeAll(spark)
  }

  test("semdedup recall audit: detected is truth restricted to shared " +
      "buckets; one bucket → recall 1e6 (ext109)") {
    import spark.implicits._
    val buckets = Similarity.kmeansBuckets(emb)
    val card = Similarity.semDedupRecallAudit(emb, buckets)
      .as[(Long, Long, Long)].head()
    assert(card._1 > 0L && card._2 <= card._1)
    assert(card._3 == card._2 * 1000000L / card._1)
    // a single bucket restricts nothing — recall must be exact
    val one = Similarity.semDedupRecallAudit(emb,
      Similarity.kmeansBuckets(emb, k = 1))
      .as[(Long, Long, Long)].head()
    assert(one._1 == card._1 && one._2 == one._1 && one._3 == 1000000L)
  }

  test("rrf fusion == driver recompute over the three metric lists; " +
      "multi-list support non-vacuous (ext143)") {
    import spark.implicits._
    val q = emb.filter(col("vec_id") < 10)
    def list(m: String) = Similarity.bruteTopKMetric(emb, q, 10, m)
    val fused = Similarity.rrfFuse(
        Seq("cosine", "dot", "l2").map(list), 5)
      .as[(Long, Long, Long, Long)].collect().toSet

    val collected = Seq("cosine", "dot", "l2").flatMap(m =>
      list(m).select("q_id", "t_id", "rank")
        .as[(Long, Long, Long)].collect().toSeq)
    val sums = collected
      .groupBy(r => (r._1, r._2))
      .map { case (key, rs) =>
        key -> rs.map(r => 1000000L / (Similarity.RrfK + r._3)).sum }
    val expected = sums.groupBy(_._1._1).flatMap { case (qi, m) =>
      m.toSeq.map { case ((_, ti), s) => (ti, s) }
        .sortBy { case (ti, s) => (-s, ti) }.take(5).zipWithIndex
        .map { case ((ti, s), i) => (qi, ti, s, i + 1L) }
    }.toSet
    assert(fused == expected)
    // a candidate really appears in ≥2 lists (the summed-support case)
    assert(sums.values.exists(_ > 1000000L / (Similarity.RrfK + 1)),
      "no candidate appeared in two lists — fusion law is vacuous")
  }

  test("ivf margin mining: one shared bucket == exact marginMine; " +
      "real buckets restrict candidates (ext146)") {
    import spark.implicits._
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    // one bucket (constant label) → ivfTopK IS bruteTopK → the IVF
    // form must reproduce the exact operator row-for-row
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("label", lit(0))
    val one = Similarity.marginMineIvf(flat(a), flat(b))
      .as[(Long, Long, Long, Double, Long)].collect().toSet
    val exact = Similarity.marginMine(a, b)
      .as[(Long, Long, Long, Double, Long)].collect().toSet
    assert(one == exact && exact.nonEmpty)
    // real labels: every mined pair shares its endpoints' bucket, and
    // the restriction genuinely changes the output (non-vacuous)
    val ivf = Similarity.marginMineIvf(a, b)
      .as[(Long, Long, Long, Double, Long)].collect().toSet
    val labels = emb.select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    assert(ivf.nonEmpty)
    assert(ivf.forall(p => labels(p._1) == labels(p._2)),
      "an IVF-mined pair straddles buckets")
    assert(ivf != exact, "bucket restriction changed nothing — law " +
      "is vacuous on this corpus")
    // marginMineBucketed over the label column AS an explicit
    // assignment == marginMineIvf over the label column: the ext124
    // consumer seam carries the same candidate sets through the shared
    // margin algebra (single-bucket assignment ⇒ identical same-bucket
    // pair lists), so any (id, bucket) relation — including
    // splitOversizedBuckets' composite ids — slots in unchanged.
    val asg = emb.select(col("vec_id"), col("label").cast("long"))
    val bucketed = Similarity.marginMineBucketed(a, b, asg)
      .as[(Long, Long, Long, Double, Long)].collect().toSet
    assert(bucketed == ivf,
      "bucketed-assignment margin differs from the ivfTopK form")
    // and the REBALANCED assignment composes: capped buckets still
    // produce a nonempty mined set whose pairs all share a composite
    // bucket (the ext147 recall audit prices what the cap costs)
    val bk = Similarity.kmeansBuckets(emb)
    val reb = Similarity.splitOversizedBuckets(emb, bk, 8L)
    val capped = Similarity.marginMineBucketed(a, b, reb)
      .as[(Long, Long, Long, Double, Long)].collect().toSet
    val rebMap = reb.as[(Long, Long)].collect().toMap
    assert(capped.nonEmpty)
    assert(capped.forall(p => rebMap(p._1) == rebMap(p._2)),
      "a capped-mined pair straddles rebalanced buckets")
    graft.ops.Reuse.freeAll(spark)
  }

  test("k-center coreset == driver replay of greedy farthest-point; " +
      "radius curve non-increasing (ext138)") {
    import spark.implicits._
    val k = Similarity.KCenterK
    val got = Similarity.kCenterCoreset(emb, k)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == k && got.map(_._2).distinct.length == k)
    // covering radius (= dist2 of the NEXT pick) never grows
    val radii = got.drop(1).map(_._3)
    assert(radii.nonEmpty && radii.forall(_ > 0L))
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a })

    // driver replay over the same quantized vectors
    val vecs = emb.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("q"))
      .as[(Long, Seq[Long])].collect().toMap
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => val d = x - y; d * d }.sum
    val seed = vecs.keys.toSeq
      .map(i => (i, vecs(i).map(v => v * v).sum))
      .sortBy { case (i, n2) => (-n2, i) }.head._1
    var sel = Vector((1L, seed, 0L))
    while (sel.length < k) {
      val chosen = vecs.keys.toSeq
        .filterNot(sel.map(_._2).contains)
        .map(i => (i, sel.map(s => d2(vecs(i), vecs(s._2))).min))
        .sortBy { case (i, m) => (-m, i) }.head
      sel = sel :+ ((sel.length + 1L, chosen._1, chosen._2))
    }
    assert(got.toVector == sel)
  }

  test("margin mining == brute-force recompute of the ratio margin; " +
      "threshold is non-vacuous (ext137)") {
    import spark.implicits._
    val a = emb.filter(col("vec_id") % 2 === 0)
    val b = emb.filter(col("vec_id") % 2 === 1)
    val k = Similarity.MarginK
    val got = Similarity.marginMine(a, b)
      .select("a_id", "b_id", "fwd_rank", "margin_ppm")
      .as[(Long, Long, Long, Long)].collect().toSet

    // Independent path: both directions through bruteTopK, neighborhood
    // means folded in rank order on the driver, same floor-ppm margin.
    def knn(corpus: org.apache.spark.sql.DataFrame,
        qs: org.apache.spark.sql.DataFrame) =
      Similarity.bruteTopK(corpus, qs, k)
        .as[(Long, Long, Long, Double)].collect()
    val fwd = knn(b, a) // (q=a_id, t=b_id, rank, cos)
    val bwd = knn(a, b)
    def avgOf(rows: Array[(Long, Long, Long, Double)]) =
      rows.groupBy(_._1).map { case (id, rs) =>
        id -> rs.sortBy(_._3).map(_._4).reduceLeft(_ + _) / k.toDouble
      }
    val aKnn = avgOf(fwd)
    val bKnn = avgOf(bwd)
    val expected = fwd
      // positive-neighborhood guard (r12 ADVICE): a pair whose BOTH
      // endpoints average negative cosine must never be mined — the
      // ratio's sign flips and a strongly anti-correlated pair would
      // read as high-margin.
      .filter { case (aId, bId, _, _) => aKnn(aId) + bKnn(bId) > 0 }
      .map { case (aId, bId, rank, cos) =>
        val ppm = math.floor(
          (cos + cos) / (aKnn(aId) + bKnn(bId)) * 1000000.0).toLong
        (aId, bId, rank, ppm)
      }.filter(_._4 >= Similarity.MarginThresholdPpm).toSet
    assert(got == expected)
    // non-vacuous both ways: the threshold keeps some pairs and cuts
    // some candidates (a trivial cut point would make the law empty)
    assert(got.nonEmpty, "threshold kept nothing — law is vacuous")
    assert(got.size < fwd.length,
      "threshold cut nothing — margin filter is vacuous")
    // every survivor is a forward top-k candidate of its left vector
    val candidates = fwd.map(r => (r._1, r._2)).toSet
    assert(got.forall(p => candidates((p._1, p._2))))
  }
}
