package graft.registry

import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.ops.{Hashing, Packing, Splits, TextOps}
import Artifacts._
import OracleSql._

/** Registry queries over [[graft.ops.Packing]] and [[graft.ops.Splits]]:
  * sequence packing, split and shard assignment, and fold balancing. Each
  * is declared once, its Spark form beside its DuckDB oracle. */
private[graft] object PackingQueries {

  val queries: Seq[Query] = Seq(
    // Packing-efficiency curve: chunk counts under concat- vs
    // pad-to-boundary packing and the padded waste, per candidate
    // context length — the capacity table behind the ctx choice. One
    // corpus scan, |budgets| output rows.
    Query("ext78_pack_efficiency", (s, dir) =>
      Packing.packEfficiency(docs(s, dir),
          size(split(col("text"), " ")), Seq(128L, 512L, 1024L))
        .select("ctx", "n_docs", "total_toks", "chunks_padded",
          "chunks_concat", "pad_waste_ppm", "pack_gain_ppm")
        .orderBy("ctx"),
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |e AS (
        |  SELECT n_toks, CAST(unnest([128, 512, 1024]) AS BIGINT) AS ctx
        |  FROM d),
        |g AS (
        |  SELECT ctx, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_toks) AS BIGINT) AS total_toks,
        |         CAST(sum((n_toks + ctx - 1) // ctx) AS BIGINT)
        |           AS chunks_padded
        |  FROM e GROUP BY 1)
        |SELECT ctx, n_docs, total_toks, chunks_padded,
        |       (total_toks + ctx - 1) // ctx AS chunks_concat,
        |       CAST(CASE WHEN chunks_padded > 0 THEN
        |         ((chunks_padded * ctx - total_toks) * 1000000)
        |           // (chunks_padded * ctx)
        |         ELSE 0 END AS BIGINT) AS pad_waste_ppm,
        |       CAST(CASE WHEN chunks_padded > 0 THEN
        |         ((chunks_padded - ((total_toks + ctx - 1) // ctx))
        |            * 1000000) // chunks_padded
        |         ELSE 0 END AS BIGINT) AS pack_gain_ppm
        |FROM g ORDER BY ctx""".stripMargin),

    // Dedup token-savings forecast: what the ext47 keeper policy
    // would DELETE, in tokens — the capacity number (storage +
    // training-token budget) behind the "is dedup worth a pass"
    // decision ext64 prices in doc counts. Keeper tokens ride the
    // same max(struct) keeper draw (extra struct fields past the
    // unique -doc_id tiebreak never affect the argmax), so no second
    // join against the corpus.
    // Shuffled (interleaved) packing: pack in portable-hash order
    // instead of doc_id order — the training-order randomization a
    // pretraining run needs so a chunk doesn't replay one source's
    // contiguous run — and report per-chunk doc/source mixing. The
    // ord key is hash·2^32 + doc_id: unique (hash ties break by id),
    // int64-safe, reproducible on any engine.
    Query("ext86_shuffled_packing", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      val ord = Hashing.portableHash32(
        concat(lit("shuf:"), col("doc_id").cast("string"))) *
        lit(4294967296L) + col("doc_id")
      Packing.concatChunks(d.withColumn("ord", ord),
          col("ord"), col("n_toks"), 1024L)
        .groupBy(col("chunk_id"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("chunk_id")
    },
      // The ext23 window form of the prefix sum (oracle-only shape) in
      // hash order; the hash·2^32 + doc_id ord mirrors the query.
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |         (${hashSql("'shuf:' || CAST(doc_id AS VARCHAR)")})
         |           * 4294967296 + doc_id AS ord
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_toks,
         |         CAST(SUM(n_toks) OVER (ORDER BY ord
         |           ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_toks
         |           AS first_tok
         |  FROM t)
         |SELECT first_tok // 1024 AS chunk_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |FROM c GROUP BY 1 ORDER BY chunk_id""".stripMargin),

    // Deterministic hash-based train/val/test split — reproducible across
    // engines/reruns/appends, pure projection (no shuffle, no RNG).
    Query("ext20_split_assign", (s, dir) =>
      Splits.assign(docs(s, dir), col("doc_id"))
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id"),
      s"""SELECT doc_id,
         |  ${hashSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Sequence packing: global token prefix-sum in doc_id order via the
    // two-phase distributed scan (the oracle's single-partition window
    // states the semantics; the operator's plan is the scalable one).
    Query("ext23_pack_chunks", (s, dir) =>
      Packing.concatChunks(docs(s, dir).select("doc_id", "text"),
          col("doc_id"), size(split(col("text"), " ")), 1024L)
        .select("doc_id", "n_toks", "first_tok", "chunk_id")
        .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_toks,
        |         CAST(SUM(n_toks) OVER (ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_toks AS first_tok
        |  FROM t)
        |SELECT doc_id, n_toks, first_tok, first_tok // 1024 AS chunk_id
        |FROM c ORDER BY doc_id""".stripMargin),

    // Per-chunk segments: the exact [seg_start, seg_end) token span each
    // doc contributes to each training chunk — docs straddling a chunk
    // boundary emit one row per touched chunk (bounded explode, no extra
    // shuffle on top of the packing prefix sum).
    Query("ext30_pack_segments", (s, dir) =>
      Packing.packSegments(
        Packing.concatChunks(docs(s, dir).select("doc_id", "text"),
          col("doc_id"), size(split(col("text"), " ")), 1024L), 1024L)
        .select("doc_id", "chunk_id", "seg_start", "seg_end")
        .orderBy("doc_id", "chunk_id"),
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_toks,
        |         CAST(SUM(n_toks) OVER (ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_toks AS first_tok
        |  FROM t),
        |s AS (
        |  -- chunk ids from a per-row list range: follows the data, no
        |  -- fixed cap to diverge from the uncapped Spark operator
        |  SELECT doc_id, n_toks, first_tok,
        |         unnest(range(first_tok // 1024,
        |                (first_tok + n_toks - 1) // 1024 + 1)) AS chunk_id
        |  FROM c WHERE n_toks > 0)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |       greatest(first_tok, chunk_id * 1024) AS seg_start,
        |       least(first_tok + n_toks, (chunk_id + 1) * 1024) AS seg_end
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin),

    // Leakage-safe split: near-dup cluster members share the cluster's
    // canonical min id as split key, so no near-dup pair ever straddles
    // train/val/test; unclustered docs assign exactly as ext20.
    Query("ext51_leakage_safe_split", (s, dir) =>
      Splits.assignLeakageSafeFromClusters(docs(s, dir),
          dupClusters(s, dir))
        .select("doc_id", "split_key", "bucket", "split")
        .orderBy("doc_id"),
      // Same transitive closure as the ext27 oracle; unclustered docs fall
      // back to their own id, reproducing the ext20 assignment bit-exactly.
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |k AS (SELECT d.doc_id,
         |             COALESCE(cl.cluster_id, d.doc_id) AS split_key
         |      FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id, split_key,
         |  ${hashSql("'split:' || CAST(split_key AS VARCHAR)")} % 100
         |    AS bucket,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM k ORDER BY doc_id""".stripMargin),

    // Deterministic training-shard writer shape: hash-mod shard that a
    // doc keeps forever + reproducible within-shard hash-shuffle order
    // (one keyed shuffle + per-shard sort; no global ordering).
    Query("ext52_shard_assign", (s, dir) =>
      Splits.shardAssign(docs(s, dir), col("doc_id"), 8)
        .select("doc_id", "shard", "seq")
        .orderBy("doc_id"),
      s"""WITH h AS (
         |  SELECT doc_id,
         |         ${hashSql("'shard:' || CAST(doc_id AS VARCHAR)")} AS draw
         |  FROM documents)
         |SELECT doc_id, draw % 8 AS shard,
         |       CAST(row_number() OVER (PARTITION BY draw % 8
         |         ORDER BY draw, doc_id) AS BIGINT) AS seq
         |FROM h ORDER BY doc_id""".stripMargin),

    // Per-shard content manifest under the ext52 shard draw: row count +
    // order-independent content checksum (sum of portable doc hashes) —
    // the integrity record a shard writer emits so reruns/replicas/
    // other engines verify shards without re-reading them in order.
    Query("ext63_shard_manifest", (s, dir) =>
      Splits.shardManifest(docs(s, dir), col("doc_id"), 8)
        .orderBy("shard"),
      // Same shard draw as ext52; checksum is a commutative integer sum of
      // portable content hashes, so both engines aggregate it in any order.
      s"""WITH h AS (
         |  SELECT doc_id, text,
         |         ${hashSql("'shard:' || CAST(doc_id AS VARCHAR)")} % 8
         |           AS shard
         |  FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(${hashSql("text")}) AS BIGINT) AS checksum
         |FROM h GROUP BY shard ORDER BY shard""".stripMargin),

    // Mass-balanced leakage-safe k-fold assignment off the stored
    // dedup-cluster artifact: the heavy head (top-64 groups by char
    // mass) dealt serpentine round 5 folds, the tail hashed — grouped
    // k-fold where ext51's hash split is only
    // proportional-in-expectation.
    Query("ext140_balanced_folds", (s, dir) =>
      Splits.balancedFolds(docs(s, dir), dupClusters(s, dir), 5,
          col("n_chars"))
        .orderBy("doc_id"),
      // Same cluster CTE chain as ext130, then the head/serpentine/hash
      // fold algebra: top-64 groups by (mass DESC, key) dealt
      // boustrophedon over 5 folds, tail = portable hash of
      // 'fold:<group>' mod 5.
      {
        val k = 5
        val h = 64
        s"""WITH RECURSIVE $clusterCtes,
           |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
           |       FROM reach GROUP BY 1),
           |g AS (SELECT d.doc_id,
           |        COALESCE(cl.cluster_id, d.doc_id) AS group_key,
           |        d.n_chars
           |      FROM documents d LEFT JOIN cl USING (doc_id)),
           |gm AS (SELECT group_key, CAST(SUM(n_chars) AS BIGINT) AS g_mass
           |       FROM g GROUP BY 1),
           |hd AS (SELECT group_key,
           |         row_number() OVER (ORDER BY g_mass DESC, group_key)
           |           AS r
           |       FROM gm ORDER BY g_mass DESC, group_key LIMIT $h),
           |hf AS (SELECT group_key AS h_key,
           |         CAST(CASE WHEN (r - 1) % ${2 * k} < $k
           |              THEN (r - 1) % ${2 * k}
           |              ELSE ${2 * k - 1} - (r - 1) % ${2 * k} END
           |           AS BIGINT) AS h_fold
           |       FROM hd)
           |SELECT g.doc_id, g.group_key,
           |       COALESCE(hf.h_fold,
           |         ${hashSql("'fold:' || CAST(g.group_key AS VARCHAR)")}
           |           % $k) AS fold,
           |       hf.h_key IS NOT NULL AS in_head
           |FROM g LEFT JOIN hf ON hf.h_key = g.group_key
           |ORDER BY g.doc_id""".stripMargin
      }),

    // Length-bucketing card: dynamic-batching padding cost — log2
    // buckets, per-bucket actual max, pad-to-bucket-max vs pad-to-
    // global-max waste in exact tokens and ppm; <= ~40 rows at any
    // corpus size.
    Query("ext161_length_bucketing", (s, dir) =>
      Packing.lengthBucketing(docs(s, dir),
        size(split(col("text"), " "))).orderBy("bucket"),
      // Length buckets: bitlen classes over whitespace token counts,
      // per-bucket max, pad-to-bucket vs pad-to-global waste.
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |pb AS (
        |  SELECT CAST(length(bin(greatest(n, 1))) AS BIGINT) AS bucket,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n) AS BIGINT) AS total_toks,
        |         CAST(MAX(n) AS BIGINT) AS bucket_max
        |  FROM d GROUP BY 1),
        |g AS (SELECT CAST(MAX(bucket_max) AS BIGINT) AS global_max
        |      FROM pb)
        |SELECT bucket, n_docs, total_toks, bucket_max, g.global_max,
        |       n_docs * bucket_max - total_toks AS pad_bucket,
        |       n_docs * g.global_max - total_toks AS pad_global,
        |       CAST(CASE WHEN n_docs * bucket_max > 0
        |            THEN ((n_docs * bucket_max - total_toks) * 1000000)
        |                 // (n_docs * bucket_max)
        |            ELSE 0 END AS BIGINT) AS waste_bucket_ppm,
        |       CAST(CASE WHEN n_docs * g.global_max > 0
        |            THEN ((n_docs * g.global_max - total_toks) * 1000000)
        |                 // (n_docs * g.global_max)
        |            ELSE 0 END AS BIGINT) AS waste_global_ppm
        |FROM pb, g ORDER BY bucket""".stripMargin),

    // Temporal train/gap/test split: exact selection-quantile cutoff
    // (the ext151 bisection — zero data shuffles), one-day horizon
    // gap, per-segment row/user masses and the user-exposure audit.
    Query("ext170_temporal_split", (s, dir) =>
      graft.ops.Splits.temporalSplit(Tables.events(s, dir),
        col("user_id")),
      // Temporal split: cutoff = k-th order statistic via row_number
      // (identical to the bisection's smallest-reaching-value rule,
      // k = ceil(80*n/100)), then the per-user segment fold.
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS us FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        |cut AS (SELECT us AS c FROM (
        |          SELECT us, row_number() OVER (ORDER BY us) AS rn
        |          FROM e), n
        |        WHERE rn = (80 * n + 99) // 100),
        |pu AS (SELECT u,
        |         sum(CASE WHEN us <= c THEN 1 ELSE 0 END) AS tr,
        |         sum(CASE WHEN us > c AND us <= c + 86400000000
        |             THEN 1 ELSE 0 END) AS gp,
        |         sum(CASE WHEN us > c + 86400000000
        |             THEN 1 ELSE 0 END) AS te
        |       FROM e, cut GROUP BY u)
        |SELECT (SELECT c FROM cut) AS cutoff_us,
        |  CAST(sum(tr) AS BIGINT) AS n_train,
        |  CAST(sum(gp) AS BIGINT) AS n_gap,
        |  CAST(sum(te) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN tr > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS users_train,
        |  CAST(sum(CASE WHEN te > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS users_test,
        |  CAST(sum(CASE WHEN tr > 0 AND te > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS users_both,
        |  CAST((1000000 * sum(CASE WHEN tr > 0 AND te > 0
        |       THEN 1 ELSE 0 END))
        |    // greatest(sum(CASE WHEN tr > 0 THEN 1 ELSE 0 END), 1)
        |    AS BIGINT) AS users_both_ppm
        |FROM pu""".stripMargin)
  )
}
