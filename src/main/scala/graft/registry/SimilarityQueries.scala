package graft.registry

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextOps}
import Artifacts._
import OracleSql._

/** Registry queries over [[graft.ops.Similarity]]: exact, IVF, LSH and PQ
  * vector search, their recall audits, and the embedding-space curation
  * built on them. Each is declared once, its Spark form beside its DuckDB
  * oracle. */
private[graft] object SimilarityQueries {

  val queries: Seq[Query] = Seq(
    Query("ext05_sim_brute_topk", (s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteTopK(e, e.filter(col("vec_id") < NumQueryVecs), 5)
        .orderBy("q_id", "rank")
    },
      cosTopKSql("", 5)),

    // Hard-negative mining: per query the top-5 most-similar vectors
    // BELOW the near-dup threshold — dedup-aware negative sampling for
    // contrastive training (negatives above the threshold are latent
    // positives and would poison the loss).
    Query("ext49_hard_negatives", (s, dir) => {
      val e = embs(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < NumQueryVecs), 5)
        .orderBy("q_id", "rank")
    },
      cosTopKSql("", 5,
        scoreWhere = s"WHERE cos < ${Similarity.NearDupThreshold}")),

    Query("ext06_sim_ivf_topk", (s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < NumQueryVecs), 3)
        .orderBy("q_id", "rank")
    },
      cosTopKSql("AND a.label = b.label", 3)),

    // LSH-bucketed ANN — scale path; no oracle (rows-only check).
    Query("ext07_sim_lsh_ann", (s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < NumQueryVecs), 5)
        .orderBy("q_id", "rank")
    },
      // Random-hyperplane LSH: hyperplane sign (j,i) = bit (j%31) of the
      // portable hash of "hp<j>:<i>" — reproducible in SQL, so even the
      // ANN bucketing itself is oracle-checked.
      s"""$QuantFlatSql,
         |$lshSigCtes,
         |${cosTopKCtes("", lshBucketJoin)}
         |SELECT q_id, t_id, CAST(rank AS BIGINT) AS rank, cos
         |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),

    // LSH-ANN recall vs the stored exact truth: the last approximate
    // path without a priced recall (IVF has ext57/58, the dedup
    // detectors ext54/61/65/70). Reads the build-once brute-force
    // truth artifact; candidates = the ext07 signature buckets ranked
    // to the same k.
    Query("ext88_lsh_ann_recall", (s, dir) => {
      val e = embs(s, dir)
      val cand = Similarity.lshTopK(
          e, e.filter(col("vec_id") < NumQueryVecs), 3)
        .select(col("q_id").as("id_a"), col("t_id").as("id_b"))
      Dedup.pairRecall(annTruth(s, dir), cand)
    },
      // ext07's signature buckets ranked to the truth's k, scored by
      // the ext57 recall tail against the exact cosine top-3.
      s"""$QuantFlatSql,
         |$lshSigCtes,
         |${cosTopKCtes("_t", "")},
         |truth AS (SELECT q_id, t_id FROM r_t WHERE rank <= 3),
         |${cosTopKCtes("_c", lshBucketJoin)},
         |cand AS (SELECT q_id, t_id FROM r_c WHERE rank <= 3),
         |$recallTailSql""".stripMargin),

    // Embedding-cosine near-dup: banded random-hyperplane LSH candidates,
    // exact quantized cosine verify — the embedding-space member of the
    // dedup family (text-space: ext02/03/04).
    Query("ext16_dedup_embed_cosine", (s, dir) =>
      Similarity.cosineNearDupPairs(embs(s, dir))
        .orderBy("id_a", "id_b"),
      // Banded-LSH near-dup: the oracle recomputes the 16-hyperplane
      // signature, the 4-bit banding, the candidate self-join AND the exact
      // quantized cosine — the full approximate pipeline is oracle-checked,
      // not just the verify step.
      s"""$QuantFlatSql,
         |hp AS (
         |  SELECT a.j, b.i,
         |         CASE WHEN ((${hashSql("'hp' || CAST(a.j AS VARCHAR) || ':' || CAST(b.i - 1 AS VARCHAR)")})
         |                    >> CAST(a.j % 31 AS INTEGER)) % 2 = 0
         |              THEN 1 ELSE -1 END AS sgn
         |  FROM range(16) a(j), range(1, 65) b(i)),
         |projs AS (
         |  SELECT f.vec_id, h.j, CAST(SUM(h.sgn * f.qi) AS BIGINT) AS proj
         |  FROM flat f JOIN hp h ON h.i = f.i GROUP BY 1, 2),
         |sigs AS (
         |  SELECT vec_id,
         |         CAST(SUM(CASE WHEN proj > 0
         |           THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
         |           ELSE 0 END) AS BIGINT) AS sig
         |  FROM projs GROUP BY 1),
         |bands AS (
         |  SELECT vec_id, b.band_id,
         |         (sig >> CAST(b.band_id * 4 AS INTEGER)) & 15 AS band
         |  FROM sigs, range(4) b(band_id)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
         |  FROM bands a JOIN bands b2 USING (band_id, band)
         |  WHERE a.vec_id < b2.vec_id),
         |dots AS (
         |  SELECT c.id_a, c.id_b, CAST(SUM(a.qi * b.qi) AS BIGINT) AS dot
         |  FROM cand c JOIN flat a ON a.vec_id = c.id_a
         |              JOIN flat b ON b.vec_id = c.id_b AND b.i = a.i
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT id_a, id_b,
         |         CAST(dot AS DOUBLE) /
         |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cos
         |  FROM dots JOIN n2 na ON na.vec_id = id_a
         |            JOIN n2 nb ON nb.vec_id = id_b)
         |SELECT id_a, id_b, cos
         |FROM scored WHERE cos >= ${Similarity.NearDupThreshold}
         |ORDER BY id_a, id_b""".stripMargin),

    // Storage-precision pricing: full-precision cosine top-3 vs the
    // int8 re-quantized frame's top-3, as one agreement row (rank-set
    // overlap ppm + mean |cos8 - cos| in nano-units) — the audit that
    // decides whether the vector store ships 1 or 4 bytes/dim.
    Query("ext93_int8_fidelity", (s, dir) => {
      val e = embs(s, dir)
      Similarity.int8FidelityAudit(
        e, e.filter(col("vec_id") < NumQueryVecs), 3)
    },
      // Twin of Similarity.int8FidelityAudit: per-vector max-abs int8
      // codes (nonneg-numerator floor division — engine-identical), both
      // rankings, the rank-set join, and the integer-quantized error sum.
      s"""$QuantFlatSql,
         |mx AS (SELECT vec_id, max(abs(qi)) AS m FROM flat GROUP BY 1),
         |f8 AS (
         |  SELECT f.vec_id, f.i,
         |         CASE WHEN mx.m = 0 THEN CAST(0 AS BIGINT)
         |              ELSE ((f.qi + mx.m) * 254) // (2 * mx.m) - 127
         |         END AS qi8
         |  FROM flat f JOIN mx USING (vec_id)),
         |n28 AS (SELECT vec_id, CAST(SUM(qi8 * qi8) AS BIGINT) AS n2
         |        FROM f8 GROUP BY 1),
         |${cosTopKCtes("_f", "")},
         |fullk AS (SELECT q_id, t_id, cos FROM r_f WHERE rank <= 3),
         |dots8 AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS t_id,
         |         CAST(SUM(a.qi8 * b.qi8) AS BIGINT) AS dot
         |  FROM f8 a JOIN f8 b ON a.i = b.i
         |  WHERE a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |scored8 AS (
         |  SELECT q_id, t_id,
         |         CAST(dot AS DOUBLE) /
         |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         |           AS cos8
         |  FROM dots8 JOIN n28 na ON na.vec_id = q_id
         |             JOIN n28 nb ON nb.vec_id = t_id),
         |r8 AS (SELECT *, row_number() OVER (
         |         PARTITION BY q_id ORDER BY cos8 DESC, t_id ASC) AS rank
         |       FROM scored8),
         |i8 AS (SELECT q_id, t_id, cos8 FROM r8 WHERE rank <= 3),
         |ov AS (
         |  SELECT CAST(floor(abs(i.cos8 - f.cos) * 1000000000.0) AS BIGINT)
         |           AS err
         |  FROM fullk f JOIN i8 i USING (q_id, t_id)),
         |tot AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS nq,
         |               CAST(count(*) AS BIGINT) AS np FROM fullk),
         |ova AS (SELECT CAST(count(*) AS BIGINT) AS novl,
         |               CAST(COALESCE(SUM(err), 0) AS BIGINT) AS esum
         |        FROM ov)
         |SELECT tot.nq AS n_queries, tot.np AS n_pairs,
         |       ova.novl AS n_overlap,
         |       CASE WHEN tot.np = 0 THEN CAST(0 AS BIGINT)
         |            ELSE (ova.novl * 1000000) // tot.np END AS overlap_ppm,
         |       CASE WHEN ova.novl = 0 THEN CAST(0 AS BIGINT)
         |            ELSE ova.esum // ova.novl END AS mae_q9
         |FROM tot, ova""".stripMargin),

    // Pre-ANN degeneracy audit: per-label vector counts, zero-norm
    // count (zero vectors make cosine NaN — silent ranking poison),
    // and the exact min/max/mean of the quantized norm² — the norm
    // spread is the cosine-vs-dot metric-choice evidence (ext90's
    // knob). Decimal-carried sum: int64 would overflow near 1e5
    // unit-norm vectors.
    Query("ext95_embedding_norm_audit", (s, dir) =>
      Similarity.normAudit(embs(s, dir)).orderBy("label"),
      // Twin of Similarity.normAudit: per-vector quantized norm² off the
      // shared flat CTEs, per-label fold; DuckDB's HUGEINT sum matches
      // the Spark side's DECIMAL(38,0) carry, floor-divided back.
      s"""$QuantFlatSql,
         |v AS (
         |  SELECT f.label, n2.n2
         |  FROM n2 JOIN (SELECT DISTINCT vec_id, label FROM flat) f
         |    USING (vec_id))
         |SELECT label,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_zero,
         |       min(n2) AS min_n2, max(n2) AS max_n2,
         |       CAST(SUM(n2) // count(*) AS BIGINT) AS avg_n2
         |FROM v GROUP BY label ORDER BY label""".stripMargin),

    // Deterministic random projection 64 -> 16 dims: plan-time ±1
    // hyperplane literals, one fused qdot multiply-add pass per output
    // dim — the compressed representation an ANN index stores at scale.
    // Driver contract: comparator-safe scalars only, so the array of
    // projections is joined to one string (the library API,
    // Similarity.randomProject, keeps the real array column).
    Query("ext43_random_projection", (s, dir) =>
      Similarity.randomProject(embs(s, dir), 16)
        .select(col("vec_id"),
          array_join(col("proj").cast("array<string>"), ",").as("proj"))
        .orderBy("vec_id"),
      s"""$QuantFlatSql,
         |hp AS (
         |  SELECT a.j, b.i,
         |         CASE WHEN ((${hashSql("'rp' || CAST(a.j AS VARCHAR) || ':' || CAST(b.i - 1 AS VARCHAR)")})
         |                    >> CAST(a.j % 31 AS INTEGER)) % 2 = 0
         |              THEN 1 ELSE -1 END AS sgn
         |  FROM range(16) a(j), range(1, 65) b(i)),
         |projs AS (
         |  SELECT f.vec_id, h.j, CAST(SUM(h.sgn * f.qi) AS BIGINT) AS pj
         |  FROM flat f JOIN hp h ON h.i = f.i GROUP BY 1, 2)
         |SELECT vec_id, array_to_string(list(pj ORDER BY j), ',') AS proj
         |FROM projs GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // Deterministic quantized k-means: the real IVF coarse-quantizer
    // build (ext06 consumes a bucket column; this CONSTRUCTS one) —
    // integer-exact distances + floor-quantized centroid updates make
    // even the iterative clustering oracle-checkable. All four IVF
    // consumers (ext28/31/57/58) read the build-once probe index
    // (Similarity.kmeansProbeIndex): the first pays the Lloyd's build,
    // the rest reuse it — the production build-once/search-many shape
    // (r5 verdict item 4); probe_rank 1 == kmeansBuckets bit-exactly.
    Query("ext28_kmeans_buckets", (s, dir) =>
      ivfBuckets(s, dir)
        .orderBy("vec_id"),
      // The oracle replays both Lloyd's rounds CTE-by-CTE — possible only
      // because every step is integer-exact or a single floor'd division.
      kmeansSql(8, 2)),

    // The COMPLETE IVF-ANN path: build the coarse quantizer with
    // deterministic k-means (ext28's construction), assign every vector
    // (and so every query) to its centroid bucket, then search only the
    // query's bucket — ext06's equi-join restriction with a LEARNED
    // partitioning instead of a pre-existing label column. At 100 TB the
    // assignment join is co-partitioned on vec_id and the per-bucket
    // search is the same broadcast-queries scan as ext06.
    Query("ext31_kmeans_ivf", (s, dir) => {
      val e = embs(s, dir)
      // The shared probe index is already a materialized checkpoint
      // leaf, so feeding BOTH ivfTopK sides (corpus + broadcast
      // queries) re-reads blocks, not the Lloyd's iteration plan.
      val withBucket = e.join(ivfBuckets(s, dir), "vec_id")
      Similarity.ivfTopK(withBucket,
          withBucket.filter(col("vec_id") < NumQueryVecs), 3,
          bucket = "bucket")
        .orderBy("q_id", "rank")
    },
      // kmeans-IVF: the same Lloyd's CTEs feed the bucket restriction of
      // the cosine top-k (a3 = assignment after 2 rounds).
      cosTopKSql(
        """JOIN a3 ba ON ba.vec_id = a.vec_id
          |       JOIN a3 bb ON bb.vec_id = b.vec_id AND bb.cid = ba.cid""".stripMargin,
        3, kmeansCtes(8, 2))),

    // IVF recall audit — ext54's embedding-path counterpart: what
    // fraction of the exact top-3 neighbors does the kmeans-IVF probe
    // (ext31's learned buckets) find. The honest cost of searching only
    // the query's bucket, as one quantized scalar row.
    Query("ext57_ivf_recall", (s, dir) => {
      val e = embs(s, dir)
      val withBucket = e.join(ivfBuckets(s, dir), "vec_id")
      val cand = Similarity.ivfTopK(withBucket,
          withBucket.filter(col("vec_id") < NumQueryVecs), 3,
          bucket = "bucket")
        .select(col("q_id").as("id_a"), col("t_id").as("id_b"))
      Dedup.pairRecall(annTruth(s, dir), cand)
    },
      // Truth = the suffixed brute-force ranking, candidates = the same
      // chain restricted to the kmeans-IVF bucket (a3 = ext31's learned
      // assignment); recall quantized to int64 so the compare is exact.
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |${cosTopKCtes("_t", "")},
         |truth AS (SELECT q_id, t_id FROM r_t WHERE rank <= 3),
         |${cosTopKCtes("_c",
          """JOIN a3 ba ON ba.vec_id = a.vec_id
            |       JOIN a3 bb ON bb.vec_id = b.vec_id AND bb.cid = ba.cid"""
            .stripMargin)},
         |cand AS (SELECT q_id, t_id FROM r_c WHERE rank <= 3),
         |$recallTailSql""".stripMargin),

    // Multi-probe IVF recall CURVE: queries probe their `p` closest
    // buckets for p in 1/2/4 (corpus indexed under rank 1 only) — the
    // knob that buys back the recall ext57 prices, as a 3-row table
    // (recall vs candidate volume) instead of two points, so the
    // operating point is PICKED off a curve before a 100 TB run commits
    // (r5 verdict item 3). One probe index build, one shared brute
    // truth; each curve row reuses both.
    Query("ext58_ivf_multiprobe_recall", (s, dir) => {
      val e = embs(s, dir)
      val probes = ivfProbeIndex(s, dir)
      val corpus = e.join(probes.filter(col("probe_rank") === 1)
        .select("vec_id", "bucket"), "vec_id")
      val truth = annTruth(s, dir)
      ProbeCurve.map { p =>
        val qs = e.join(probes.filter(col("probe_rank") <= p)
          .select("vec_id", "bucket"), "vec_id")
          .filter(col("vec_id") < NumQueryVecs)
        val cand = Similarity.ivfTopK(corpus, qs, 3, bucket = "bucket")
          .select(col("q_id").as("id_a"), col("t_id").as("id_b"))
        Dedup.pairRecall(truth, cand).withColumn("probes", lit(p.toLong))
      }.reduce(_ unionByName _)
        .select("probes", "n_true", "n_detected", "recall_q")
        .orderBy("probes")
    },
      // As ext57 but the query side probes its p closest centroids for
      // each p on the curve (pmax = the rank-<=max assignment over the
      // same final distances d3); one ranked candidate chain per p, one
      // recall row per p, UNION ALL'd into the curve table.
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |pmax AS (SELECT vec_id, cid, rn FROM (
         |  SELECT vec_id, cid, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3)
         |  WHERE rn <= ${ProbeCurve.max}),
         |${cosTopKCtes("_t", "")},
         |truth AS (SELECT q_id, t_id FROM r_t WHERE rank <= 3),
         |${ProbeCurve.map { p =>
          cosTopKCtes(s"_c$p",
            s"""JOIN pmax pa ON pa.vec_id = a.vec_id AND pa.rn <= $p
               |       JOIN a3 bb ON bb.vec_id = b.vec_id AND bb.cid = pa.cid"""
              .stripMargin) +
            s",\ncand$p AS (SELECT q_id, t_id FROM r_c$p WHERE rank <= 3)"
        }.mkString(",\n")}
         |SELECT * FROM (
         |${ProbeCurve.map(probeRecallRowSql).mkString("\nUNION ALL\n")})
         |ORDER BY probes""".stripMargin),

    // IVF bucket-balance audit — the recall curve's cost-side partner:
    // bucket-population extremes + a quantized imbalance factor
    // (max_bucket·n_buckets/n_vectors; 1e6 = perfectly even). Recall
    // (ext57/58) prices what a probe FINDS; balance prices what the
    // worst probe COSTS — a skewed quantizer concentrates candidate
    // volume in hot buckets at 100 TB no matter how good recall looks.
    // Reads the shared build-once index; all-int64 tail.
    Query("ext60_ivf_balance", (s, dir) =>
      ivfBuckets(s, dir)
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("cnt")).as("n_vectors"),
          max(col("cnt")).as("max_bucket"),
          min(col("cnt")).as("min_bucket"))
        .select(col("n_buckets"), col("n_vectors"), col("max_bucket"),
          col("min_bucket"),
          expr("(max_bucket * n_buckets * 1000000L) DIV n_vectors")
            .as("imbalance_q")),
      // Bucket histogram off the same final k-means assignment (a3);
      // the imbalance tail is pure integer arithmetic on both engines.
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |b AS (SELECT cid, count(*) AS cnt FROM a3 GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(SUM(cnt) AS BIGINT) AS n_vectors,
         |       CAST(max(cnt) AS BIGINT) AS max_bucket,
         |       CAST(min(cnt) AS BIGINT) AS min_bucket,
         |       (CAST(max(cnt) AS BIGINT) * CAST(count(*) AS BIGINT)
         |         * 1000000) // CAST(SUM(cnt) AS BIGINT) AS imbalance_q
         |FROM b""".stripMargin),

    // SemDeDup (Abbas et al.): semantic dedup in embedding space —
    // within each learned kmeans cluster (the build-once probe index),
    // drop every vector whose exact cosine to a lower-id cluster-mate
    // reaches the near-dup threshold. Pairwise work is O(Σ bucket²),
    // never n² — the method's entire point at 100 TB.
    Query("ext101_semdedup", (s, dir) =>
      Similarity.semDedup(embs(s, dir), ivfBuckets(s, dir))
        .orderBy("vec_id"),
      // SemDeDup: the same Lloyd's CTEs as ext28 give the buckets; the
      // drop test is the paper's upper-triangular max-sim convention
      // (exists lower-id cluster-mate with cos >= threshold).
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |bk AS (SELECT vec_id, cid AS bucket FROM a3),
         |dots AS (
         |  SELECT fa.vec_id AS id_a, fb.vec_id AS id_b,
         |         CAST(SUM(fa.qi * fb.qi) AS BIGINT) AS dot
         |  FROM flat fa JOIN flat fb ON fa.i = fb.i
         |       JOIN bk ba ON ba.vec_id = fa.vec_id
         |       JOIN bk bb ON bb.vec_id = fb.vec_id
         |                 AND bb.bucket = ba.bucket
         |  WHERE fa.vec_id < fb.vec_id
         |  GROUP BY 1, 2),
         |drops AS (
         |  SELECT DISTINCT d.id_b AS vec_id
         |  FROM dots d JOIN n2 na ON na.vec_id = d.id_a
         |       JOIN n2 nb ON nb.vec_id = d.id_b
         |  WHERE CAST(d.dot AS DOUBLE) /
         |        sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         |        >= ${Similarity.NearDupThreshold})
         |SELECT b.vec_id, CAST(b.bucket AS BIGINT) AS bucket,
         |       CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END
         |            AS BIGINT) AS kept
         |FROM bk b LEFT JOIN drops dr USING (vec_id)
         |ORDER BY b.vec_id""".stripMargin),

    // Product-quantization fidelity (Jégou et al.): exact cosine top-3
    // vs the ADC ranking over 4-subspace × 16-code PQ codes — prices
    // the 64×-compression storage decision the way ext93 prices int8.
    // Query time touches ONLY the codes table + a broadcast LUT; the
    // corpus vectors are read once at encode time.
    Query("ext107_pq_fidelity", (s, dir) => {
      val e = embs(s, dir)
      Similarity.pqFidelityAudit(
        e, e.filter(col("vec_id") < NumQueryVecs), 3,
        codebooks = pqCb(s, dir), codes = pqCodesIdx(s, dir))
    },
      // PQ fidelity: the shared ADC chain (m-keyed Lloyd's — all 4
      // subspace codebooks in one pass per round, mirroring
      // Similarity.pqCodebooks — LUT, ADC scores, ranked), then the
      // ext93 audit tail.
      {
        s"""$QuantFlatSql,
           |$pqAdcCtes,
           |${cosTopKCtes("_f", "")},
           |fullk AS (SELECT q_id, t_id, cos FROM r_f WHERE rank <= 3),
           |pqk AS (SELECT q_id, t_id, cos_pq FROM rpq WHERE rank <= 3),
           |ov AS (
           |  SELECT CAST(floor(abs(p.cos_pq - f.cos) * 1000000000.0)
           |              AS BIGINT) AS err
           |  FROM fullk f JOIN pqk p USING (q_id, t_id)),
           |tot AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS nq,
           |               CAST(count(*) AS BIGINT) AS np FROM fullk),
           |ova AS (SELECT CAST(count(*) AS BIGINT) AS novl,
           |               CAST(COALESCE(SUM(err), 0) AS BIGINT) AS esum
           |        FROM ov)
           |SELECT tot.nq AS n_queries, tot.np AS n_pairs,
           |       ova.novl AS n_overlap,
           |       CASE WHEN tot.np = 0 THEN CAST(0 AS BIGINT)
           |            ELSE (ova.novl * 1000000) // tot.np END AS overlap_ppm,
           |       CASE WHEN ova.novl = 0 THEN CAST(0 AS BIGINT)
           |            ELSE ova.esum // ova.novl END AS mae_q9
           |FROM tot, ova""".stripMargin
      }),

    // Two-stage PQ retrieval, recall-priced: ADC top-20 candidate pool
    // off the codes table, exact re-rank of only those vectors, recall
    // vs brute top-3 — measures what reranking recovers of ext107's
    // raw-ADC ranking loss (the production IVF-PQ serving shape).
    Query("ext108_pq_rerank_recall", (s, dir) => {
      val e = embs(s, dir)
      Similarity.pqRerankRecallAudit(
        e, e.filter(col("vec_id") < NumQueryVecs), 3, 20,
        codebooks = pqCb(s, dir), codes = pqCodesIdx(s, dir))
    },
      // Rerank recall: the same ADC chain; candidates = rpq rank <= 20,
      // re-ranked by the EXACT cosine (scored_f), then the shared
      // recall tail against the exact top-3 truth.
      s"""$QuantFlatSql,
         |$pqAdcCtes,
         |${cosTopKCtes("_f", "")},
         |truth AS (SELECT q_id, t_id FROM r_f WHERE rank <= 3),
         |cand0 AS (SELECT q_id, t_id FROM rpq WHERE rank <= 20),
         |rer AS (
         |  SELECT c.q_id, c.t_id, row_number() OVER (
         |    PARTITION BY c.q_id ORDER BY s.cos DESC, c.t_id ASC) AS rk
         |  FROM cand0 c JOIN scored_f s
         |    ON s.q_id = c.q_id AND s.t_id = c.t_id),
         |cand AS (SELECT q_id, t_id FROM rer WHERE rk <= 3),
         |$recallTailSql""".stripMargin),

    // SemDeDup detector audit: truth = ALL pairs at/above the cosine
    // threshold (exact, audit-scale), detected = the same-bucket pairs
    // ext101 sees — the miss mass is near-dup pairs split across a
    // centroid boundary (multi-probe, ext58, is the recovery knob).
    // Every approximate path ships with a measured number (ext54/65/
    // 88's discipline); this is ext101's.
    Query("ext109_semdedup_recall", (s, dir) =>
      Similarity.semDedupRecallAudit(embs(s, dir), ivfBuckets(s, dir)),
      // SemDeDup recall: ext101's kmeans buckets; truth = exact all-pairs
      // cosine >= threshold, cand = truth restricted to shared buckets.
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |bk AS (SELECT vec_id, cid AS bucket FROM a3),
         |alldots AS (
         |  SELECT fa.vec_id AS id_a, fb.vec_id AS id_b,
         |         CAST(SUM(fa.qi * fb.qi) AS BIGINT) AS dot
         |  FROM flat fa JOIN flat fb ON fa.i = fb.i
         |  WHERE fa.vec_id < fb.vec_id GROUP BY 1, 2),
         |truth AS (
         |  SELECT d.id_a AS q_id, d.id_b AS t_id
         |  FROM alldots d JOIN n2 na ON na.vec_id = d.id_a
         |       JOIN n2 nb ON nb.vec_id = d.id_b
         |  WHERE CAST(d.dot AS DOUBLE) /
         |        sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         |        >= ${Similarity.NearDupThreshold}),
         |cand AS (
         |  SELECT t.q_id, t.t_id
         |  FROM truth t JOIN bk ba ON ba.vec_id = t.q_id
         |       JOIN bk bb ON bb.vec_id = t.t_id
         |                 AND bb.bucket = ba.bucket),
         |$recallTailSql""".stripMargin),

    // ext109's recovery knob, measured (ext58's curve for the dedup
    // path): replicate each vector into its p nearest buckets and
    // re-price pair recall at p = 1, 2, 4 off the shared build-once
    // probe index. Row p=1 == ext109's card by construction.
    Query("ext110_semdedup_probe_curve", (s, dir) =>
      Similarity.semDedupProbeCurve(embs(s, dir), ivfProbeIndex(s, dir),
        ProbeCurve),
      // SemDeDup probe curve: ext109's truth; candP = true pairs whose
      // p-probe bucket sets intersect (pmax = the multi-probe ranks off
      // the same Lloyd's distances as ext58).
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |pmax AS (SELECT vec_id, cid, rn FROM (
         |  SELECT vec_id, cid, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3)
         |  WHERE rn <= ${ProbeCurve.max}),
         |alldots AS (
         |  SELECT fa.vec_id AS id_a, fb.vec_id AS id_b,
         |         CAST(SUM(fa.qi * fb.qi) AS BIGINT) AS dot
         |  FROM flat fa JOIN flat fb ON fa.i = fb.i
         |  WHERE fa.vec_id < fb.vec_id GROUP BY 1, 2),
         |truth AS (
         |  SELECT d.id_a AS q_id, d.id_b AS t_id
         |  FROM alldots d JOIN n2 na ON na.vec_id = d.id_a
         |       JOIN n2 nb ON nb.vec_id = d.id_b
         |  WHERE CAST(d.dot AS DOUBLE) /
         |        sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         |        >= ${Similarity.NearDupThreshold}),
         |${ProbeCurve.map { p =>
          s"""cand$p AS (
             |  SELECT DISTINCT t.q_id, t.t_id FROM truth t
             |  JOIN pmax pa ON pa.vec_id = t.q_id AND pa.rn <= $p
             |  JOIN pmax pb ON pb.vec_id = t.t_id AND pb.rn <= $p
             |                AND pb.cid = pa.cid)""".stripMargin
        }.mkString(",\n")}
         |SELECT * FROM (
         |${ProbeCurve.map(probeRecallRowSql).mkString("\nUNION ALL\n")})
         |ORDER BY probes""".stripMargin),

    // Multi-probe SemDeDup as the OPERATOR (r10 verdict item 5 —
    // ext110 measured that probe replication recovers the centroid-
    // boundary misses; this makes the knob turnable in ext101's
    // operator): pair test over each vector's 2 nearest buckets, drop
    // decisions deduped across replicas, output under the home bucket.
    // p=1 == ext101 bit-exactly and p=4 reaches ext110's 100% recall
    // row (both SimilaritySpec laws).
    Query("ext129_semdedup_probed", (s, dir) =>
      Similarity.semDedupProbed(embs(s, dir), ivfProbeIndex(s, dir),
          probes = 2)
        .orderBy("vec_id"),
      // Probed SemDeDup operator: ext101's drop rule with the pair test
      // widened to any shared bucket among each side's 2 nearest (pmax
      // ranks off the same Lloyd's distances); output under the home
      // (rn=1) bucket.
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |pmax AS (SELECT vec_id, cid, rn FROM (
         |  SELECT vec_id, cid, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d3)
         |  WHERE rn <= 2),
         |cos AS (
         |  SELECT fa.vec_id AS id_a, fb.vec_id AS id_b,
         |         CAST(SUM(fa.qi * fb.qi) AS BIGINT) AS dot
         |  FROM (SELECT DISTINCT pa.vec_id AS va, pb.vec_id AS vb
         |        FROM pmax pa JOIN pmax pb ON pb.cid = pa.cid
         |        WHERE pa.vec_id < pb.vec_id) pr
         |       JOIN flat fa ON fa.vec_id = pr.va
         |       JOIN flat fb ON fb.vec_id = pr.vb AND fb.i = fa.i
         |  GROUP BY 1, 2),
         |drops AS (
         |  SELECT DISTINCT c.id_b AS vec_id
         |  FROM cos c JOIN n2 na ON na.vec_id = c.id_a
         |       JOIN n2 nb ON nb.vec_id = c.id_b
         |  WHERE CAST(c.dot AS DOUBLE) /
         |        sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         |        >= ${Similarity.NearDupThreshold}),
         |home AS (SELECT vec_id, cid AS bucket FROM pmax WHERE rn = 1)
         |SELECT h.vec_id, CAST(h.bucket AS BIGINT) AS bucket,
         |       CAST(CASE WHEN dr.vec_id IS NULL THEN 1 ELSE 0 END
         |            AS BIGINT) AS kept
         |FROM home h LEFT JOIN drops dr USING (vec_id)
         |ORDER BY h.vec_id""".stripMargin),

    // Margin-based pair mining (Artetxe & Schwenk 2019 / CCMatrix):
    // candidate pairs between the even-id and odd-id halves of the
    // embedding corpus, kept on the ratio of pair cosine to the mean
    // of BOTH endpoints' k-NN neighborhoods — the hub-robust criterion
    // that raw-cosine thresholds (ext16) cannot express. Neighborhood
    // means fold in rank order and the margin is floor-ppm'd, so the
    // kept set is engine-portable.
    Query("ext137_margin_mine", (s, dir) => {
      val e = embs(s, dir)
      Similarity.marginMine(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1))
        .orderBy("a_id", "b_id")
    },
      // The same dots/rank/fold-mean/margin algebra over the parity
      // split: forward and backward rankings off one scored relation,
      // k-NN means as rank-pivoted left folds (the fold order IS the
      // contract), floor-ppm margin, integer threshold.
      marginMineSql("")),

    // Greedy k-center coreset (Gonzalez; CoreSet selection): k rounds
    // of farthest-point selection over exact int64 squared-L2 — the
    // diversity-maximizing counterpart of the density/dedup prunes
    // (ext119/ext120 keep the TYPICAL, this keeps the SPREAD). Output
    // doubles as the coverage-radius-vs-k curve.
    Query("ext138_kcenter_coreset", (s, dir) =>
      Similarity.kCenterCoreset(embs(s, dir)).orderBy("sel_rank"),
      // The same Gonzalez rounds unrolled: seed = (max n2, min id), each
      // round distances-to-last-pick folded into a running min (same
      // VALUE as the operator's min-over-set — exact ints), argmax with
      // (mind DESC, vec_id) ties, already-selected excluded.
      {
        val k = graft.ops.Similarity.KCenterK
        val blocks = new StringBuilder
        blocks ++=
          """s1 AS (SELECT vec_id, CAST(0 AS BIGINT) AS dist2
            |       FROM n2 ORDER BY n2 DESC, vec_id LIMIT 1),
            |""".stripMargin
        for (r <- 2 to k) {
          val prev = r - 1
          val selUnion = (1 until r)
            .map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")
          val mind =
            if (r == 2) s"SELECT vec_id, dist AS mind FROM d$prev"
            else
              s"""SELECT m${prev - 1}.vec_id,
                 |        CASE WHEN d$prev.dist < m${prev - 1}.mind
                 |             THEN d$prev.dist ELSE m${prev - 1}.mind END
                 |          AS mind
                 |      FROM m${prev - 1}
                 |      JOIN d$prev USING (vec_id)""".stripMargin
          blocks ++=
            s"""d$prev AS (
               |  SELECT f.vec_id,
               |         CAST(na.n2 + nb.n2 - 2 * SUM(f.qi * g.qi) AS BIGINT)
               |           AS dist
               |  FROM flat f
               |  JOIN flat g ON g.i = f.i
               |       AND g.vec_id = (SELECT vec_id FROM s$prev)
               |  JOIN n2 na ON na.vec_id = f.vec_id
               |  JOIN n2 nb ON nb.vec_id = g.vec_id
               |  GROUP BY f.vec_id, na.n2, nb.n2),
               |m$prev AS ($mind),
               |s$r AS (SELECT vec_id, mind AS dist2 FROM m$prev
               |        WHERE vec_id NOT IN ($selUnion)
               |        ORDER BY mind DESC, vec_id LIMIT 1),
               |""".stripMargin
        }
        val rows = (1 to k)
          .map(i =>
            s"SELECT CAST($i AS BIGINT) AS sel_rank, vec_id, dist2 FROM s$i")
          .mkString("\n      UNION ALL ")
        // MATERIALIZED (r14): every s$r references m$(r-1) -> d$(r-1) ->
        // flat and the whole prior selection chain — default inlining
        // re-derives the Gonzalez rounds per reference (15 s -> 1.7 s,
        // identical rows at both SFs).
        materializeCtes(s"""$QuantFlatSql,
           |${blocks.toString.stripSuffix(",\n")}
           |SELECT * FROM ($rows)
           |ORDER BY sel_rank""".stripMargin)
      }),

    // Margin mining with IVF candidate generation (the ext137 scale
    // path made real): both directions' neighbor lists come from the
    // bucket-restricted ivfTopK instead of the exact cross — the
    // margin algebra above the lists is shared code, bit-identical.
    Query("ext146_margin_mine_ivf", (s, dir) => {
      val e = embs(s, dir)
      Similarity.marginMineIvf(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1))
        .orderBy("a_id", "b_id")
    },
      // The identical margin algebra with IVF candidate generation: the
      // dots relation is restricted to shared-bucket (same-label) pairs
      // — the ext06 coarse quantizer — in BOTH directions' rankings and
      // neighborhood means.
      marginMineSql("AND a.label = b.label")),

    // Kept-pair recall of the CAPPED margin miner — ext146's production
    // answer to its measured dup-mode quadratic (x17 wall at x10 data):
    // the ext124 rebalanced assignment (kmeans argmin, mean-size cap,
    // within-bucket split, composite ids) threaded through the SHARED
    // margin algebra via marginMineBucketed, priced against the exact
    // marginMine as one int64 row — the ext54 discipline: every
    // approximate path ships its price.
    Query("ext147_margin_recall", (s, dir) => {
      val e = embs(s, dir)
      val a = e.filter(col("vec_id") % 2 === 0)
      val b = e.filter(col("vec_id") % 2 === 1)
      val reb = rebBuckets(s, dir)
      // NOT materialized (r19, measured): the count and intersect
      // consumers reach identical exchanges, so ReuseExchange already
      // runs each mine once — checkpoints only added blocking writes
      // (A/B 2.39 → 2.65 s at sf0.1).
      val exact = Similarity.marginMine(a, b).select("a_id", "b_id")
      val capped = Similarity.marginMineBucketed(a, b, reb)
        .select("a_id", "b_id")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(capped.agg(count(lit(1)).as("n_capped")))
        .crossJoin(exact.intersect(capped)
          .agg(count(lit(1)).as("n_common")))
        .select(col("n_exact"), col("n_capped"), col("n_common"),
          when(col("n_exact") === 0, lit(1000000L))
            .otherwise(expr("(1000000 * n_common) DIV n_exact"))
            .as("recall_ppm"))
    },
      // The capped-margin recall audit: the ext124 rebalanced assignment
      // replayed verbatim (rebalanceCtes), then TWO margin chains in one
      // WITH — x = exact, y = candidates restricted to same REBALANCED
      // bucket — and the kept-pair sets compared as exact int64 counts.
      // EVERY CTE is MATERIALIZED (materializeCtes, r14): this WITH
      // references `flat` ~18 times across the two chains plus the
      // Lloyd's replay, and DuckDB's default CTE inlining re-evaluates
      // the upstream chains per reference — first hit as "Too many open
      // files" (r13, fixed with flat/n2/reb alone), then as a 197 s
      // replay where the fully-materialized form runs in seconds.
      // Identical rows, just evaluated once (the ext124 verification).
      materializeCtes(
        s"""$QuantFlatSql,
           |$rebalanceCtes,
           |${marginCtes("x", "", "")},
           |${marginCtes("y",
              """JOIN reb ra ON ra.vec_id = a.vec_id
                |       JOIN reb rb ON rb.vec_id = b.vec_id
                |                   AND rb.bucket = ra.bucket""".stripMargin,
              "")},
           |xc AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM xkept),
           |yc AS (SELECT CAST(count(*) AS BIGINT) AS n_capped FROM ykept),
           |cc AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM (
           |         SELECT a_id, b_id FROM xkept
           |         INTERSECT
           |         SELECT a_id, b_id FROM ykept))
           |SELECT xc.n_exact, yc.n_capped, cc.n_common,
           |       CASE WHEN xc.n_exact = 0 THEN 1000000
           |            ELSE (1000000 * cc.n_common) // xc.n_exact
           |       END AS recall_ppm
           |FROM xc, yc, cc""".stripMargin)),

    // Top principal direction by fixed-point power iteration over the
    // quantized embedding corpus — (sum xx')v computed as sum x(x.v)
    // per round (one scan, zero joins, 64 decimal rows move), driver
    // normalizes in exact BigInt with a deterministic sign pin; the
    // 3-round iterate is the DEFINED card (textrank's fixed-round
    // discipline), pivot dim at exactly +-1e6.
    Query("ext159_pca_power", (s, dir) =>
      Similarity.pcaPowerDirection(embs(s, dir)).orderBy("dim"),
      // PCA power iteration: three unrolled rounds over the ppm-quantized
      // flat relation — per-vec dot vs the previous iterate (sign-managed
      // // 1e6), HUGEINT per-dim accumulate, L-inf normalize with the
      // min-dim sign pin; the same exact integers the driver computes.
      {
        val rounds = (1 to 3).map { r =>
          val pv = s"v${r - 1}"
          s"""d$r AS (
             |  SELECT vec_id,
             |         CASE WHEN dot < 0 THEN -((-dot) // 1000000)
             |              ELSE dot // 1000000 END AS du
             |  FROM (SELECT f.vec_id, SUM(f.qi * v.v) AS dot
             |        FROM flat f JOIN $pv v USING (i) GROUP BY 1)),
             |y$r AS (
             |  SELECT f.i, SUM(CAST(f.qi AS HUGEINT) * d.du) AS y
             |  FROM flat f JOIN d$r d USING (vec_id) GROUP BY 1),
             |n$r AS (SELECT MAX(abs(y)) AS m FROM y$r),
             |p$r AS (SELECT CASE WHEN (SELECT y FROM y$r, n$r
             |                          WHERE abs(y) = m
             |                          ORDER BY i LIMIT 1) < 0
             |             THEN -1 ELSE 1 END AS s),
             |v$r AS (
             |  SELECT i, CAST(p$r.s
             |         * (CASE WHEN y < 0 THEN -1
             |                 WHEN y > 0 THEN 1 ELSE 0 END)
             |         * ((abs(y) * 1000000) // greatest(n$r.m, 1))
             |         AS BIGINT) AS v
             |  FROM y$r, n$r, p$r)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS (
           |  SELECT vec_id,
           |         list_transform(embedding, x ->
           |           CAST(floor(CAST(x AS DOUBLE) * 1000000.0)
           |             AS BIGINT)) AS qv
           |  FROM embeddings),
           |flat AS (
           |  SELECT vec_id, unnest(qv) AS qi,
           |         unnest(range(1, len(qv) + 1)) AS i
           |  FROM q),
           |v0 AS (SELECT CAST(i AS BIGINT) AS i,
           |              CAST(1000000 AS BIGINT) AS v
           |       FROM range(1, 65) t(i)),
           |$rounds
           |SELECT i AS dim, v AS v_ppm FROM v3 ORDER BY dim""".stripMargin
      }),

    // Reciprocal-rank fusion over the three standard retrieval
    // neighborhoods (cosine / dot / L2 brute rankings, k=10 each):
    // rank positions — not scores — fuse, integer DIV contributions,
    // exact int64 fused score, top-5 re-rank. The hybrid-search
    // combiner for heterogeneous retrievers.
    Query("ext143_rrf_fusion", (s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < NumQueryVecs)
      Similarity.rrfFuse(
          Seq("cosine", "dot", "l2").map(m =>
            Similarity.bruteTopKMetric(e, q, 10, m)), 5)
        .orderBy("q_id", "rank")
    },
      // One dots relation feeds all three metric rankings (cos DESC /
      // dot DESC / l2 ASC, ties t_id), each truncated at 10; RRF = sum
      // of 1000000 // (60 + rank) over the union, top-5 re-rank.
      {
        val k = graft.ops.Similarity.RrfK
        s"""$QuantFlatSql,
           |fdots AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS t_id,
           |         CAST(SUM(a.qi * b.qi) AS BIGINT) AS dot
           |  FROM flat a JOIN flat b ON a.i = b.i
           |  WHERE a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id
           |  GROUP BY 1, 2),
           |fsc AS (
           |  SELECT q_id, t_id, dot,
           |         CAST(dot AS DOUBLE) /
           |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
           |           AS cos,
           |         na.n2 + nb.n2 - 2 * dot AS l2
           |  FROM fdots JOIN n2 na ON na.vec_id = q_id
           |             JOIN n2 nb ON nb.vec_id = t_id),
           |rrc AS (SELECT q_id, t_id, row_number() OVER (
           |          PARTITION BY q_id ORDER BY cos DESC, t_id) AS rank
           |        FROM fsc),
           |rrd AS (SELECT q_id, t_id, row_number() OVER (
           |          PARTITION BY q_id ORDER BY dot DESC, t_id) AS rank
           |        FROM fsc),
           |rrl AS (SELECT q_id, t_id, row_number() OVER (
           |          PARTITION BY q_id ORDER BY l2 ASC, t_id) AS rank
           |        FROM fsc),
           |ru AS (SELECT * FROM rrc WHERE rank <= 10
           |       UNION ALL SELECT * FROM rrd WHERE rank <= 10
           |       UNION ALL SELECT * FROM rrl WHERE rank <= 10),
           |rs AS (SELECT q_id, t_id,
           |         CAST(SUM(1000000 // ($k + rank)) AS BIGINT) AS rrf
           |       FROM ru GROUP BY 1, 2),
           |rf AS (SELECT *, row_number() OVER (
           |         PARTITION BY q_id ORDER BY rrf DESC, t_id) AS rank
           |       FROM rs)
           |SELECT q_id, t_id, rrf, CAST(rank AS BIGINT) AS rank
           |FROM rf WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      }),

    // HYBRID retrieval — the production search shape: the dense leg
    // (quantized cosine top-10 over the shared-id embedding store)
    // RRF-fused with the LEXICAL leg (per-query-document BM25 over
    // the corpus text, ext165's integer pipeline) — rank positions
    // fuse, so the two incomparable score scales need no calibration.
    Query("ext169_hybrid_search", (s, dir) => {
      val e = embs(s, dir)
      val dense = Similarity.bruteTopKMetric(e,
        e.filter(col("vec_id") < NumQueryVecs), 10, "cosine")
      val lex = TextOps.bm25PerQuery(docs(s, dir),
        docs(s, dir).filter(col("doc_id") < NumQueryVecs), 10)
      Similarity.rrfFuse(Seq(dense, lex), 5).orderBy("q_id", "rank")
    },
      // Hybrid search: dense cosine ranking (QuantFlat chain) UNION the
      // per-query-doc BM25 ranking (ext165's integer pipeline with a
      // query-vocab join), fused by the same integer RRF.
      {
        val k = graft.ops.Similarity.RrfK
        s"""$QuantFlatSql,
           |fdots AS (
           |  SELECT a.vec_id AS q_id, b.vec_id AS t_id,
           |         CAST(SUM(a.qi * b.qi) AS BIGINT) AS dot
           |  FROM flat a JOIN flat b ON a.i = b.i
           |  WHERE a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id
           |  GROUP BY 1, 2),
           |fsc AS (
           |  SELECT q_id, t_id,
           |         CAST(dot AS DOUBLE) /
           |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
           |           AS cos
           |  FROM fdots JOIN n2 na ON na.vec_id = q_id
           |             JOIN n2 nb ON nb.vec_id = t_id),
           |rden AS (SELECT q_id, t_id, row_number() OVER (
           |           PARTITION BY q_id ORDER BY cos DESC, t_id) AS rank
           |         FROM fsc),
           |dd AS (SELECT doc_id, string_split(text, ' ') AS tk
           |       FROM documents),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |              CAST(sum(len(tk)) * 1000 // count(*) AS BIGINT)
           |                AS avgdl_milli FROM dd),
           |qt AS (SELECT DISTINCT doc_id AS q_id, unnest(tk) AS t
           |       FROM dd WHERE doc_id < $NumQueryVecs),
           |hh AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
           |              unnest(tk) AS t FROM dd),
           |hits AS (SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf
           |         FROM hh WHERE t IN (SELECT t FROM qt)
           |         GROUP BY 1, 2, 3),
           |dfr AS (SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           |        FROM hits GROUP BY 1),
           |lsc AS (SELECT qt.q_id, hits.doc_id AS t_id,
           |          CAST(sum(
           |            CAST(CAST((2 * CAST(st.n AS HUGEINT) + 2) * 1000000
           |                 // (2 * df + 1) AS BIGINT) AS HUGEINT) *
           |            (tf * 2200000 //
           |             (tf * 1000 + (1200 * (250 +
           |              (750 * (dl * 1000000 // st.avgdl_milli)) // 1000))
           |              // 1000))) // 1000000 AS BIGINT) AS score
           |        FROM hits JOIN dfr USING (t) JOIN qt USING (t), st
           |        WHERE hits.doc_id <> qt.q_id
           |        GROUP BY 1, 2),
           |rlex AS (SELECT q_id, t_id, row_number() OVER (
           |           PARTITION BY q_id ORDER BY score DESC, t_id) AS rank
           |         FROM lsc),
           |ru AS (SELECT q_id, t_id, rank FROM rden WHERE rank <= 10
           |       UNION ALL
           |       SELECT q_id, t_id, rank FROM rlex WHERE rank <= 10),
           |rs AS (SELECT q_id, t_id,
           |         CAST(SUM(1000000 // ($k + rank)) AS BIGINT) AS rrf
           |       FROM ru GROUP BY 1, 2),
           |rf AS (SELECT *, row_number() OVER (
           |         PARTITION BY q_id ORDER BY rrf DESC, t_id) AS rank
           |       FROM rs)
           |SELECT q_id, t_id, rrf, CAST(rank AS BIGINT) AS rank
           |FROM rf WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      }),

    // The COMPOSED production retrieval operator (r9, verdict item 1):
    // IVF probe restriction × PQ/ADC candidate generation × exact
    // rerank — the 100 TB serving shape both halves were priced for
    // separately (ext58's probe curve, ext107/108's ADC cards). The
    // ADC scan touches only the codes of the query's 2 probed buckets;
    // the float vectors are read only at the 20-candidate rerank.
    Query("ext117_ivfpq_topk", (s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < NumQueryVecs),
          ivfProbeIndex(s, dir), k = 3, probes = 2, candidates = 20,
          codebooks = pqCb(s, dir), codedCorpus = pqCodedIdx(s, dir))
        .orderBy("q_id", "rank")
    },
      // IVF-PQ + exact rerank: the `v`-prefixed Lloyd's chain is the IVF
      // coarse quantizer (va3 = corpus argmin bucket, vd3 = the final
      // distances the query's probe ranks come from), the shared ADC
      // chain supplies the all-pairs ADC scores (spqs), the bucket
      // restriction keeps only pairs whose target bucket is among the
      // query's 2 probed buckets, and the exact-cosine rerank of the
      // top-20 ADC candidates is the final ranking.
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2, "v")},
         |$pqAdcCtes,
         |qprobe AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM vd3)
         |  WHERE rn <= 2 AND vec_id < $NumQueryVecs),
         |spqb AS (
         |  SELECT s.q_id, s.t_id, s.cos_pq
         |  FROM spqs s JOIN qprobe qp ON qp.vec_id = s.q_id
         |       JOIN va3 tb ON tb.vec_id = s.t_id AND tb.cid = qp.cid),
         |rb AS (SELECT *, row_number() OVER (
         |         PARTITION BY q_id ORDER BY cos_pq DESC, t_id ASC)
         |         AS crank FROM spqb),
         |cand0 AS (SELECT q_id, t_id FROM rb WHERE crank <= 20),
         |${cosTopKCtes("_f", "")},
         |rer AS (
         |  SELECT c.q_id, c.t_id, s.cos, row_number() OVER (
         |    PARTITION BY c.q_id ORDER BY s.cos DESC, c.t_id ASC) AS rk
         |  FROM cand0 c JOIN scored_f s
         |    ON s.q_id = c.q_id AND s.t_id = c.t_id)
         |SELECT q_id, t_id, CAST(rk AS BIGINT) AS rank, cos
         |FROM rer WHERE rk <= 3 ORDER BY q_id, rank""".stripMargin),

    // ext117's recall curve — ext58's discipline for the full stack:
    // recall vs the exact brute-force top-3 at p = 1, 2, 4 probes off
    // the shared build-once artifacts. The residual at p=4 is PQ
    // ranking error the 20-candidate pool didn't recover; the gap
    // between rows is centroid-boundary loss.
    Query("ext118_ivfpq_probe_curve", (s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfPqProbeCurve(e, e.filter(col("vec_id") < NumQueryVecs),
        ivfProbeIndex(s, dir), ProbeCurve, k = 3, candidates = 20,
        codebooks = pqCb(s, dir), codedCorpus = pqCodedIdx(s, dir))
    },
      // The curve: one bucket-restricted ADC ranking + exact rerank per
      // probe level off the SAME chains, each scored against the exact
      // brute-force top-3 (truth) by the shared recall-row tail.
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2, "v")},
         |$pqAdcCtes,
         |vpmax AS (SELECT vec_id, cid, rn FROM (
         |  SELECT vec_id, cid, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM vd3)
         |  WHERE rn <= ${ProbeCurve.max}),
         |${cosTopKCtes("_f", "")},
         |truth AS (SELECT q_id, t_id FROM r_f WHERE rank <= 3),
         |${ProbeCurve.map { p =>
          s"""spqb$p AS (
             |  SELECT s.q_id, s.t_id, s.cos_pq
             |  FROM spqs s JOIN vpmax qp ON qp.vec_id = s.q_id
             |       AND qp.rn <= $p
             |       JOIN va3 tb ON tb.vec_id = s.t_id
             |       AND tb.cid = qp.cid),
             |rb$p AS (SELECT *, row_number() OVER (
             |         PARTITION BY q_id ORDER BY cos_pq DESC, t_id ASC)
             |         AS crank FROM spqb$p),
             |cand0$p AS (SELECT q_id, t_id FROM rb$p WHERE crank <= 20),
             |rer$p AS (
             |  SELECT c.q_id, c.t_id, row_number() OVER (
             |    PARTITION BY c.q_id ORDER BY s.cos DESC, c.t_id ASC)
             |    AS rk
             |  FROM cand0$p c JOIN scored_f s
             |    ON s.q_id = c.q_id AND s.t_id = c.t_id),
             |cand$p AS (SELECT q_id, t_id FROM rer$p WHERE rk <= 3)"""
            .stripMargin
        }.mkString(",\n")}
         |SELECT * FROM (
         |${ProbeCurve.map(probeRecallRowSql).mkString("\nUNION ALL\n")})
         |ORDER BY probes""".stripMargin),

    // Cluster-prototypicality pruning (Sorscher et al. 2022): exact
    // centroid distance, percent-ranked WITHIN the stored kmeans
    // bucket, keep the hard half (the large-corpus prescription —
    // easy examples are the redundant mass). Off the shared build-once
    // probe index like the whole IVF family.
    Query("ext119_prototype_pruning", (s, dir) =>
      Similarity.prototypePruning(embs(s, dir), ivfBuckets(s, dir),
          keepPpm = 500000L, keep = "hard")
        .orderBy("vec_id"),
      // Prototype pruning: a3 = the kmeans assignment, cm = the
      // floor-quantized member-mean centroid per bucket (the kmeans
      // update rule), exact |v-c|^2, integer percent-rank per bucket,
      // keep the hard half (proto_ppm >= 500000).
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |cm AS (
         |  SELECT a.cid AS bucket, f.i,
         |         CAST(floor(CAST(SUM(f.qi) AS DOUBLE) / COUNT(*))
         |              AS BIGINT) AS cv
         |  FROM a3 a JOIN flat f ON f.vec_id = a.vec_id
         |  GROUP BY 1, 2),
         |cmn AS (SELECT bucket, CAST(SUM(cv * cv) AS BIGINT) AS cn2
         |        FROM cm GROUP BY 1),
         |pd AS (
         |  SELECT a.vec_id, a.cid AS bucket,
         |         CAST(n2.n2 + cn.cn2
         |              - 2 * CAST(SUM(f.qi * c.cv) AS BIGINT) AS BIGINT)
         |           AS dist
         |  FROM a3 a JOIN flat f ON f.vec_id = a.vec_id
         |       JOIN cm c ON c.bucket = a.cid AND c.i = f.i
         |       JOIN n2 ON n2.vec_id = a.vec_id
         |       JOIN cmn cn ON cn.bucket = a.cid
         |  GROUP BY a.vec_id, a.cid, n2.n2, cn.cn2),
         |pr AS (
         |  SELECT *, row_number() OVER (
         |           PARTITION BY bucket ORDER BY dist, vec_id) AS rk,
         |         count(*) OVER (PARTITION BY bucket) AS n
         |  FROM pd),
         |pp AS (
         |  SELECT vec_id, bucket, dist,
         |         CASE WHEN n = 1 THEN CAST(0 AS BIGINT)
         |              ELSE ((rk - 1) * 1000000) // (n - 1) END
         |           AS proto_ppm
         |  FROM pr)
         |SELECT vec_id, bucket, dist, proto_ppm,
         |       CASE WHEN proto_ppm >= 500000 THEN CAST(1 AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS kept
         |FROM pp ORDER BY vec_id""".stripMargin),

    // kNN-density outlier card: count/mean/max of the k nearest
    // cluster-mate distances per vector — dense neighborhoods mark
    // redundant mass, isolated points mark OOD/garbage embeddings.
    // Bucket-restricted candidates are the production shape (the
    // semDedup argument); isolated vectors emit n_neighbors 0.
    Query("ext120_knn_density", (s, dir) =>
      Similarity.knnDensity(embs(s, dir), ivfBuckets(s, dir), k = 5)
        .orderBy("vec_id"),
      // kNN density: same-bucket pair distances off a3, k nearest per
      // vector (dist, nid tie-break), count/mean/max with integer DIV;
      // isolated vectors come back via the left join with NULL dists.
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |pd AS (
         |  SELECT a.vec_id AS vid, b.vec_id AS nid,
         |         CAST(na.n2 + nb.n2
         |              - 2 * CAST(SUM(fa.qi * fb.qi) AS BIGINT) AS BIGINT)
         |           AS dist
         |  FROM a3 a JOIN a3 b ON b.cid = a.cid
         |       AND b.vec_id <> a.vec_id
         |       JOIN flat fa ON fa.vec_id = a.vec_id
         |       JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
         |       JOIN n2 na ON na.vec_id = a.vec_id
         |       JOIN n2 nb ON nb.vec_id = b.vec_id
         |  GROUP BY a.vec_id, b.vec_id, na.n2, nb.n2),
         |rk AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY vid ORDER BY dist, nid) AS r
         |  FROM pd),
         |agg AS (
         |  SELECT vid, CAST(count(*) AS BIGINT) AS n_neighbors,
         |         CAST(SUM(dist) AS BIGINT) // count(*) AS knn_mean_dist,
         |         CAST(max(dist) AS BIGINT) AS knn_max_dist
         |  FROM rk WHERE r <= 5 GROUP BY 1)
         |SELECT a.vec_id, COALESCE(g.n_neighbors, 0) AS n_neighbors,
         |       g.knn_mean_dist, g.knn_max_dist
         |FROM a3 a LEFT JOIN agg g ON g.vid = a.vec_id
         |ORDER BY a.vec_id""".stripMargin
  ),

    // Semantic decontamination: the embedding-space member of the
    // decontamination family (ext97 lexical spans, ext102 Bloom
    // membership) — paraphrase-level eval leaks that n-grams miss.
    // Bench side = the fixed query subset; output = removal list +
    // audit trail (nearest bench item per corpus vector).
    Query("ext122_semantic_decontamination", (s, dir) => {
      val e = embs(s, dir)
      Similarity.semanticDecontaminate(
          e.filter(col("vec_id") >= NumQueryVecs),
          e.filter(col("vec_id") < NumQueryVecs))
        .orderBy("vec_id")
    },
      // Semantic decontamination: all (corpus, bench) cosines, argmax
      // per corpus vector via the (cos DESC, bid ASC) ranking, flag at
      // the shared near-dup threshold.
      s"""$QuantFlatSql,
         |bd AS (
         |  SELECT a.vec_id AS vid, b.vec_id AS bid,
         |         CAST(SUM(a.qi * b.qi) AS BIGINT) AS dot
         |  FROM flat a JOIN flat b ON b.i = a.i
         |  WHERE a.vec_id >= $NumQueryVecs AND b.vec_id < $NumQueryVecs
         |  GROUP BY 1, 2),
         |sc AS (
         |  SELECT vid, bid,
         |         CAST(dot AS DOUBLE) /
         |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         |           AS cos
         |  FROM bd JOIN n2 na ON na.vec_id = vid
         |       JOIN n2 nb ON nb.vec_id = bid),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY vid ORDER BY cos DESC, bid ASC) AS rk
         |      FROM sc)
         |SELECT vid AS vec_id, bid AS bench_id, cos AS max_cos,
         |       CASE WHEN cos >= ${Similarity.NearDupThreshold}
         |            THEN CAST(1 AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS contaminated
         |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin),

    // IVF bucket split/rebalance balance card (r9 verdict item 1): the
    // operator form of the quadratic-bucket hazard's production answer
    // — buckets above the cap (mean size here) re-cluster WITHIN the
    // bucket via the same deterministic Lloyd's, composite child ids,
    // and every same-bucket pair consumer (semDedup/knnDensity) takes
    // the rebalanced assignment unchanged. The card is ext60's shape
    // twice: before/after bucket extremes + max-bucket share, the
    // number that bounds the pair joins' worst term.
    Query("ext124_bucket_rebalance", (s, dir) => {
      val bk = ivfBuckets(s, dir)
      // Plan-time statistics read (the ext114 measuredNumSalts shape):
      // the cap is the mean bucket size off the one-row histogram
      // aggregate — a scalar the plan needs before it can be built.
      val st = bk.groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("nb"), sum("cnt").as("nv")).head()
      val cap = st.getLong(1) / st.getLong(0)
      val reb = rebBuckets(s, dir)
      val before = bk.groupBy("bucket").agg(count(lit(1)).as("cnt"))
      val after = reb.groupBy("bucket").agg(count(lit(1)).as("cnt"))
      before.agg(sum("cnt").as("n_vectors"),
          count(lit(1)).as("n_buckets_before"),
          max("cnt").as("max_bucket_before"),
          sum(when(col("cnt") > cap, 1L).otherwise(0L)).as("n_split"))
        .crossJoin(after.agg(count(lit(1)).as("n_buckets_after"),
          max("cnt").as("max_bucket_after")))
        .select(col("n_vectors"), col("n_buckets_before"),
          col("max_bucket_before"),
          expr("max_bucket_before * 1000000L DIV n_vectors")
            .as("share_before_q"),
          lit(cap).as("cap"), col("n_split"), col("n_buckets_after"),
          col("max_bucket_after"),
          expr("max_bucket_after * 1000000L DIV n_vectors")
            .as("share_after_q"))
    },
      // Bucket rebalance: the global Lloyd's (a3) gives the before
      // histogram; buckets above the mean cap replay the SAME Lloyd's
      // within-bucket (bucketSplitCtes), children get composite ids
      // parent*2+rank, kept buckets parent*2; the card is both
      // histograms' extremes in exact int64.
      materializeCtes(
        s"""$QuantFlatSql,
           |$rebalanceCtes,
           |nb AS (SELECT bucket, count(*) AS cnt FROM reb GROUP BY 1),
           |bb AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_vectors,
           |              CAST(COUNT(*) AS BIGINT) AS n_buckets_before,
           |              CAST(MAX(cnt) AS BIGINT) AS max_bucket_before,
           |              CAST(SUM(CASE WHEN cnt > (SELECT cap FROM cap)
           |                            THEN 1 ELSE 0 END) AS BIGINT)
           |                AS n_split
           |       FROM b),
           |aa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets_after,
           |              CAST(MAX(cnt) AS BIGINT) AS max_bucket_after
           |       FROM nb)
           |SELECT bb.n_vectors, bb.n_buckets_before, bb.max_bucket_before,
           |       (bb.max_bucket_before * 1000000) // bb.n_vectors
           |         AS share_before_q,
           |       (SELECT cap FROM cap) AS cap,
           |       bb.n_split, aa.n_buckets_after, aa.max_bucket_after,
           |       (aa.max_bucket_after * 1000000) // bb.n_vectors
           |         AS share_after_q
           |FROM bb, aa""".stripMargin))
  )
}
