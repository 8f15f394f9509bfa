package graft.registry

import org.apache.spark.sql.functions._

import graft.ops.Similarity
import Artifacts._
import OracleSql._

/** Registry queries over [[graft.ops.LabelAudit]]: kNN label votes,
  * centroid outliers and label dispersion. Each is declared once, its Spark
  * form beside its DuckDB oracle. */
private[graft] object LabelAuditQueries {

  val queries: Seq[Query] = Seq(
    // The kNN label audit's AT-SCALE path, priced: votesFor accepts any
    // neighbor relation, and at 100 TB the neighbors come from the IVF
    // probe index, not the brute scan — so run both audits side by side
    // and measure how often the cheap path reaches the brute audit's
    // verdict (majority-label agreement over all audited vectors, and
    // recall of the brute-flagged mislabels). The last approximate path
    // without a measured number (ext54/57/58/61/65/70/88 price the
    // others). One brute ranking (the stored-truth shape), one
    // bucket-restricted ranking off the shared build-once probe index.
    Query("ext89_knn_audit_probe", (s, dir) => {
      val e = embs(s, dir)
      val labels = e.select(col("vec_id"), col("label"))
      val brute = graft.ops.LabelAudit.knnLabelAudit(
        e, e.filter(col("vec_id") < NumQueryVecs), 5)
      val withBucket = e.join(ivfBuckets(s, dir), "vec_id")
      val probeNbrs = Similarity.ivfTopK(withBucket,
        withBucket.filter(col("vec_id") < NumQueryVecs), 5,
        bucket = "bucket")
      val probe = graft.ops.LabelAudit.votesFor(probeNbrs, labels)
      brute.select(col("vec_id"), col("knn_label").as("b_nl"),
          col("flagged").as("b_fl"))
        .join(probe.select(col("vec_id"), col("knn_label").as("p_nl"),
          col("flagged").as("p_fl")), Seq("vec_id"), "left")
        .agg(count(lit(1)).as("n_audited"),
          sum(col("b_fl")).as("n_flag_brute"),
          coalesce(sum(col("p_fl")), lit(0L)).as("n_flag_probe"),
          sum(when(col("p_nl") === col("b_nl"), 1L).otherwise(0L))
            .as("n_label_agree"),
          sum(when(col("b_fl") === 1 && col("p_fl") === 1, 1L)
            .otherwise(0L)).as("_ff"))
        .withColumn("label_agree_q",
          expr("(n_label_agree * 1000000) DIV n_audited"))
        .withColumn("flag_recall_q",
          expr("CASE WHEN n_flag_brute = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE (_ff * 1000000) DIV n_flag_brute END"))
        .select("n_audited", "n_flag_brute", "n_flag_probe",
          "n_label_agree", "label_agree_q", "flag_recall_q")
    },
      // Brute audit (the ext76 vote/majority chain) vs the same chain
      // restricted to the kmeans-IVF bucket (a3 = the learned argmin
      // assignment), joined per audited vector into the agreement row.
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |${cosTopKCtes("_t", "")},
         |${cosTopKCtes("_c",
          """JOIN a3 ba ON ba.vec_id = a.vec_id
            |       JOIN a3 bb ON bb.vec_id = b.vec_id AND bb.cid = ba.cid"""
            .stripMargin)},
         |${Seq("t", "c").map { sfx =>
          s"""votes_$sfx AS (
             |  SELECT r.q_id, nq.label AS nl, count(*) AS votes
             |  FROM r_$sfx r JOIN q nq ON nq.vec_id = r.t_id
             |  WHERE r.rank <= 5 GROUP BY 1, 2),
             |maj_$sfx AS (
             |  SELECT q_id, nl, row_number() OVER (
             |    PARTITION BY q_id ORDER BY votes DESC, nl ASC) AS rn
             |  FROM votes_$sfx),
             |aud_$sfx AS (
             |  SELECT m.q_id, m.nl,
             |         CAST(CASE WHEN m.nl <> o.label THEN 1 ELSE 0 END
             |           AS BIGINT) AS fl
             |  FROM maj_$sfx m JOIN q o ON o.vec_id = m.q_id
             |  WHERE m.rn = 1)""".stripMargin
        }.mkString(",\n")},
         |j AS (
         |  SELECT t.q_id, t.nl AS b_nl, t.fl AS b_fl,
         |         c.nl AS p_nl, c.fl AS p_fl
         |  FROM aud_t t LEFT JOIN aud_c c ON c.q_id = t.q_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_audited,
         |       CAST(SUM(b_fl) AS BIGINT) AS n_flag_brute,
         |       CAST(COALESCE(SUM(p_fl), 0) AS BIGINT) AS n_flag_probe,
         |       CAST(SUM(CASE WHEN p_nl = b_nl THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_label_agree,
         |       (CAST(SUM(CASE WHEN p_nl = b_nl THEN 1 ELSE 0 END)
         |          AS BIGINT) * 1000000)
         |         // CAST(count(*) AS BIGINT) AS label_agree_q,
         |       CASE WHEN CAST(SUM(b_fl) AS BIGINT) = 0
         |            THEN CAST(0 AS BIGINT)
         |            ELSE (CAST(SUM(CASE WHEN b_fl = 1 AND p_fl = 1
         |                   THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |              // CAST(SUM(b_fl) AS BIGINT) END AS flag_recall_q
         |FROM j""".stripMargin),

    // kNN label-noise audit (confident-learning style): audited vectors
    // whose k-nearest-neighborhood votes for a different label than
    // their own — candidate mislabels for review/removal.
    Query("ext76_knn_label_audit", (s, dir) => {
      val e = embs(s, dir)
      graft.ops.LabelAudit.knnLabelAudit(
        e, e.filter(col("vec_id") < NumQueryVecs), 5)
        .orderBy("vec_id")
    },
      // Twin of LabelAudit.knnLabelAudit: the cosTopKCtes ranking (same
      // audited set `vec_id < NumQueryVecs`), then majority neighbor
      // label with (votes DESC, label ASC) tie-break.
      s"""$QuantFlatSql,
         |${cosTopKCtes("", "")},
         |votes AS (
         |  SELECT r.q_id, nq.label AS nl, count(*) AS votes
         |  FROM r JOIN q nq ON nq.vec_id = r.t_id
         |  WHERE r.rank <= 5 GROUP BY 1, 2),
         |maj AS (
         |  SELECT q_id, nl, votes, row_number() OVER (
         |    PARTITION BY q_id ORDER BY votes DESC, nl ASC) AS rn
         |  FROM votes)
         |SELECT m.q_id AS vec_id, CAST(o.label AS BIGINT) AS label,
         |       CAST(m.nl AS BIGINT) AS knn_label,
         |       CAST(m.votes AS BIGINT) AS votes,
         |       CAST(CASE WHEN m.nl <> o.label THEN 1 ELSE 0 END AS BIGINT)
         |         AS flagged
         |FROM maj m JOIN q o ON o.vec_id = m.q_id
         |WHERE m.rn = 1 ORDER BY vec_id""".stripMargin),

    // The same audit under the L2 neighborhood (|q−t|², exact int64
    // end to end — not even the cosine's final double division):
    // clustering-style geometry where vector norms matter, the second
    // standard curation metric beside cosine. The vote/flag tail is
    // metric-blind; only the neighbor ranking changes.
    Query("ext90_knn_audit_l2", (s, dir) => {
      val e = embs(s, dir)
      graft.ops.LabelAudit.knnLabelAudit(
        e, e.filter(col("vec_id") < NumQueryVecs), 5, metric = "l2")
        .orderBy("vec_id")
    },
      // ext76's vote/majority chain over the L2 neighborhood: dist =
      // n2(q) + n2(t) − 2·dot, rank ASC — all-int64, no doubles anywhere.
      s"""$QuantFlatSql,
         |dots AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS t_id,
         |         CAST(SUM(a.qi * b.qi) AS BIGINT) AS dot
         |  FROM flat a JOIN flat b ON a.i = b.i
         |  WHERE a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |d AS (
         |  SELECT q_id, t_id,
         |         CAST(na.n2 + nb.n2 - 2 * dot AS BIGINT) AS dist
         |  FROM dots JOIN n2 na ON na.vec_id = q_id
         |            JOIN n2 nb ON nb.vec_id = t_id),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY q_id ORDER BY dist ASC, t_id ASC) AS rank
         |      FROM d),
         |votes AS (
         |  SELECT r.q_id, nq.label AS nl, count(*) AS votes
         |  FROM r JOIN q nq ON nq.vec_id = r.t_id
         |  WHERE r.rank <= 5 GROUP BY 1, 2),
         |maj AS (
         |  SELECT q_id, nl, votes, row_number() OVER (
         |    PARTITION BY q_id ORDER BY votes DESC, nl ASC) AS rn
         |  FROM votes)
         |SELECT m.q_id AS vec_id, CAST(o.label AS BIGINT) AS label,
         |       CAST(m.nl AS BIGINT) AS knn_label,
         |       CAST(m.votes AS BIGINT) AS votes,
         |       CAST(CASE WHEN m.nl <> o.label THEN 1 ELSE 0 END AS BIGINT)
         |         AS flagged
         |FROM maj m JOIN q o ON o.vec_id = m.q_id
         |WHERE m.rn = 1 ORDER BY vec_id""".stripMargin),

    // Per-label centroid outliers: the 3 vectors farthest (exact int64
    // distance) from their own label's floor-quantized centroid —
    // embedding-space data pruning / review queue per class.
    Query("ext77_label_centroid_outliers", (s, dir) =>
      graft.ops.LabelAudit.labelCentroidOutliers(embs(s, dir), 3)
        .orderBy("label", "rank"),
      // Twin of LabelAudit.labelCentroidOutliers: per-label floor-
      // quantized centroid (Lloyd's update rule), exact int64 distance,
      // (dist DESC, vec_id ASC) rank within label.
      s"""$QuantFlatSql,
         |lc AS (
         |  SELECT label, i,
         |         CAST(floor(CAST(SUM(qi) AS DOUBLE) / COUNT(*)) AS BIGINT)
         |           AS cv
         |  FROM flat GROUP BY 1, 2),
         |lcn AS (SELECT label, CAST(SUM(cv * cv) AS BIGINT) AS cn2
         |        FROM lc GROUP BY 1),
         |dt AS (
         |  SELECT f.vec_id, f.label, CAST(SUM(f.qi * c.cv) AS BIGINT) AS dp
         |  FROM flat f JOIN lc c ON c.label = f.label AND c.i = f.i
         |  GROUP BY 1, 2),
         |d AS (
         |  SELECT dt.vec_id, dt.label,
         |         CAST(n2.n2 + lcn.cn2 - 2 * dt.dp AS BIGINT) AS dist
         |  FROM dt JOIN n2 ON n2.vec_id = dt.vec_id
         |          JOIN lcn ON lcn.label = dt.label),
         |rk AS (SELECT *, row_number() OVER (
         |         PARTITION BY label ORDER BY dist DESC, vec_id ASC) AS rank
         |       FROM d)
         |SELECT CAST(label AS BIGINT) AS label, vec_id, dist,
         |       CAST(rank AS BIGINT) AS rank
         |FROM rk WHERE rank <= 3 ORDER BY label, rank""".stripMargin),

    // Per-label embedding dispersion card: member count, mean/max
    // exact distance² to the label's own centroid, centroid norm² —
    // "which labels are collapsed or incoherent", off the same
    // centroid artifact ext77 ranks vectors with.
    Query("ext83_label_dispersion", (s, dir) =>
      graft.ops.LabelAudit.labelDispersion(embs(s, dir))
        .orderBy("label"),
      // Same centroid/distance CTEs as ext77 (the stored artifact's SQL
      // mirror), folded per label instead of ranked per vector.
      s"""$QuantFlatSql,
         |lc AS (
         |  SELECT label, i,
         |         CAST(floor(CAST(SUM(qi) AS DOUBLE) / COUNT(*)) AS BIGINT)
         |           AS cv
         |  FROM flat GROUP BY 1, 2),
         |lcn AS (SELECT label, CAST(SUM(cv * cv) AS BIGINT) AS cn2
         |        FROM lc GROUP BY 1),
         |dt AS (
         |  SELECT f.vec_id, f.label, CAST(SUM(f.qi * c.cv) AS BIGINT) AS dp
         |  FROM flat f JOIN lc c ON c.label = f.label AND c.i = f.i
         |  GROUP BY 1, 2),
         |d AS (
         |  SELECT dt.vec_id, dt.label,
         |         CAST(n2.n2 + lcn.cn2 - 2 * dt.dp AS BIGINT) AS dist
         |  FROM dt JOIN n2 ON n2.vec_id = dt.vec_id
         |          JOIN lcn ON lcn.label = dt.label)
         |SELECT CAST(d.label AS BIGINT) AS label,
         |       CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(CAST(sum(d.dist) AS BIGINT) // count(*) AS BIGINT)
         |         AS dist_mean_q,
         |       max(d.dist) AS dist_max, lcn.cn2
         |FROM d JOIN lcn ON lcn.label = d.label
         |GROUP BY d.label, lcn.cn2 ORDER BY 1""".stripMargin)
  )
}
