package graft.registry

import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.ops.{Hashing, Sketches}
import Artifacts._
import OracleSql._

/** Registry queries over [[graft.ops.Sketches]] and
  * [[graft.ops.Reporting]]: distinct-count, frequency, quantile and Bloom
  * sketches, and the corpus reports and data cards. Each is declared once,
  * its Spark form beside its DuckDB oracle. */
private[graft] object SketchQueries {

  val queries: Seq[Query] = Seq(
    // Count-Min heavy-hitter sketch, priced: exact top-20 tokens
    // beside their CMS estimates off the 4-row x 1024-cell counter
    // table, overestimate in ppm. est >= exact always (the one-sided
    // CMS guarantee); the counter table is a broadcast-sized mergeable
    // artifact at any corpus size.
    Query("ext98_countmin_audit", (s, dir) =>
      Sketches.countMinAccuracyAudit(docs(s, dir), 20),
      // Twin of Sketches.countMinAccuracyAudit: per-instance depth-row
      // union builds the counter table with the shared seedA/seedB
      // universal hashes; the probe CASE re-derives each top token's
      // buckets; min over rows is the estimate.
      {
        def b(j: Int, e: String) =
          s"((($e) * ${Hashing.seedA(j)} + ${Hashing.seedB(j)}) % $P)" +
            s" % ${Sketches.CmsWidth}"
        val unioned = (0 until Sketches.CmsDepth).map(j =>
          s"SELECT $j AS j, ${b(j, "h")} AS bucket FROM th")
          .mkString("\n  |  UNION ALL\n  |  ")
        val caseBucket = (0 until Sketches.CmsDepth).map(j =>
          s"WHEN $j THEN ${b(j, "k.h")}").mkString(" ")
        s"""WITH inst AS (
           |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
           |th AS (SELECT tok, ${hashSql("tok")} AS h FROM inst),
           |rows_ AS (
           |  $unioned),
           |counters AS (
           |  SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
           |  FROM rows_ GROUP BY 1, 2),
           |exact AS (
           |  SELECT tok, CAST(count(*) AS BIGINT) AS exact
           |  FROM inst GROUP BY 1),
           |top AS (SELECT tok, exact FROM exact
           |        ORDER BY exact DESC, tok ASC LIMIT 20),
           |tokh AS (SELECT DISTINCT tok, h FROM th),
           |probe AS (
           |  SELECT t.tok, r.j, CASE r.j $caseBucket END AS bucket
           |  FROM top t JOIN tokh k USING (tok),
           |       range(0, ${Sketches.CmsDepth}) r(j)),
           |est AS (
           |  SELECT p.tok, min(c.cnt) AS est
           |  FROM probe p JOIN counters c
           |    ON c.j = p.j AND c.bucket = p.bucket
           |  GROUP BY 1)
           |SELECT t.tok, t.exact, e.est,
           |       ((e.est - t.exact) * 1000000) // t.exact AS err_ppm
           |FROM top t JOIN est e USING (tok)
           |ORDER BY t.exact DESC, t.tok ASC""".stripMargin
      }),

    // Schema-on-read JSON profile of events.props: one row per
    // top-level key with occurrence + value-type counts — the audit a
    // permissive ingest (OP-04) ships before hardcoding a schema.
    // Regex pair extraction, no JSON parser on the scan.
    Query("ext99_json_key_profile", (s, dir) =>
      graft.ops.Reporting.jsonKeyProfile(
          Tables.events(s, dir), col("props"))
        .orderBy("key"),
      // Twin of Reporting.jsonKeyProfile: the same portable pair/numeric
      // regexes, unnest + fold.
      s"""WITH pairs AS (
         |  SELECT unnest(regexp_extract_all(props,
         |    '${graft.ops.Reporting.JsonPairPattern}')) AS pair
         |  FROM events),
         |kv AS (
         |  SELECT regexp_extract(pair, '"([A-Za-z0-9_]+)"', 1) AS key,
         |         trim(regexp_extract(pair, ':\\s*(.+)$$', 1)) AS v
         |  FROM pairs)
         |SELECT key,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(SUM(CASE WHEN regexp_matches(v,
         |         '${graft.ops.Reporting.JsonNumericPattern}')
         |         THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric,
         |       CAST(SUM(CASE WHEN v LIKE '"%' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_string,
         |       CAST(SUM(CASE WHEN v IN ('true', 'false') THEN 1 ELSE 0
         |         END) AS BIGINT) AS n_bool,
         |       CAST(SUM(CASE WHEN v = 'null' THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_null
         |FROM kv GROUP BY key ORDER BY key""".stripMargin),

    // Composition drift between the same two snapshots: per-lang doc
    // share (ppm of each side's own total) and the absolute delta —
    // the mix-moved signal raw counts hide when snapshot sizes differ.
    Query("ext82_composition_drift", (s, dir) =>
      graft.ops.Reporting.compositionDriftBy(docs(s, dir),
          col("doc_id") % 2 === 0, Seq("lang"))
        .orderBy("lang"),
      """WITH c AS (
        |  SELECT lang,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS docs_a,
        |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS docs_b
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(docs_a) AS BIGINT) AS ta,
        |             CAST(sum(docs_b) AS BIGINT) AS tb FROM c)
        |SELECT lang, docs_a, docs_b,
        |  CAST((docs_a * 1000000) // ta AS BIGINT) AS share_a_ppm,
        |  CAST((docs_b * 1000000) // tb AS BIGINT) AS share_b_ppm,
        |  CAST(abs((docs_a * 1000000) // ta - (docs_b * 1000000) // tb)
        |    AS BIGINT) AS drift_ppm
        |FROM c, t ORDER BY lang""".stripMargin),

    // KMV distinct sketch per event_type — deterministic portable-hash
    // sketch, so even the ESTIMATE is oracle-checked (impossible with
    // engine-private HLL). Aggregator form: ≤k int64s of state per group
    // per map task, map-side combined. exact_distinct rides along for
    // error checks.
    Query("ext21_kmv_distinct", (s, dir) =>
      Sketches.kmvDistinctAgg(Tables.events(s, dir), col("event_type"),
          col("user_id"))
        .orderBy("entity"),
      // The oracle recomputes the KMV estimate itself — (k-1)·P is inlined
      // as the identical double literal so the division is bit-for-bit.
      s"""WITH pairs AS (
         |  SELECT DISTINCT event_type AS entity,
         |         ${hashSql("'kmv:' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (SELECT entity, h, row_number() OVER (
         |        PARTITION BY entity ORDER BY h) AS rn FROM pairs),
         |mins AS (SELECT entity, count(*) AS n_mins, max(h) AS kth_min
         |         FROM r WHERE rn <= ${Sketches.DefaultK} GROUP BY 1),
         |exact AS (SELECT event_type AS entity,
         |                 count(DISTINCT user_id) AS exact_distinct
         |          FROM events GROUP BY 1)
         |SELECT m.entity, m.n_mins, m.kth_min,
         |       CASE WHEN m.n_mins < ${Sketches.DefaultK}
         |            THEN CAST(m.n_mins AS DOUBLE)
         |            ELSE ${(Sketches.DefaultK - 1).toDouble * P.toDouble}
         |                 / CAST(m.kth_min AS DOUBLE) END AS est_distinct,
         |       e.exact_distinct
         |FROM mins m JOIN exact e USING (entity)
         |ORDER BY entity""".stripMargin),

    // Mergeable log2-bucket histogram quantiles: <= 64 counters per
    // stratum no matter the data (the bounded-state path beside ext24's
    // exact sort and ext33's hash-rank sample); integer-exact buckets
    // via length(bin(v)), estimates are guaranteed <= 2x upper bounds.
    Query("ext56_hist_quantiles", (s, dir) =>
      Sketches.logHistogramQuantiles(docs(s, dir), Seq("lang"),
          col("n_chars"))
        .orderBy("lang"),
      // Integer-exact buckets (length of the binary representation), exact
      // integer ceiling division, and a left-shift upper bound — no IEEE
      // log anywhere, so the estimates compare bit-for-bit.
      """WITH b AS (
        |  SELECT lang,
        |         length(bin(greatest(CAST(n_chars AS BIGINT), 1))) - 1
        |           AS bucket
        |  FROM documents),
        |h AS (SELECT lang, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
        |c AS (SELECT lang, bucket, cnt,
        |             SUM(cnt) OVER (PARTITION BY lang ORDER BY bucket)
        |               AS cum,
        |             SUM(cnt) OVER (PARTITION BY lang) AS n
        |      FROM h),
        |p AS (SELECT lang, CAST(max(n) AS BIGINT) AS n_rows,
        |             min(CASE WHEN cum >= (n * 50 + 99) // 100
        |                 THEN bucket END) AS b50,
        |             min(CASE WHEN cum >= (n * 90 + 99) // 100
        |                 THEN bucket END) AS b90,
        |             min(CASE WHEN cum >= (n * 99 + 99) // 100
        |                 THEN bucket END) AS b99
        |      FROM c GROUP BY 1)
        |SELECT lang, n_rows,
        |  (CAST(1 AS BIGINT) << CAST(b50 + 1 AS INTEGER)) - 1 AS p50_est,
        |  (CAST(1 AS BIGINT) << CAST(b90 + 1 AS INTEGER)) - 1 AS p90_est,
        |  (CAST(1 AS BIGINT) << CAST(b99 + 1 AS INTEGER)) - 1 AS p99_est
        |FROM p ORDER BY lang""".stripMargin),

    // Dedup impact report off the stored cluster map: how many near-dup
    // families, how much of the corpus sits in them, the largest family,
    // and the mass a min-per-cluster keeper policy would remove
    // (dup_mass_q, ppm of the corpus) — the one-row number that says
    // whether dedup is worth a 100 TB pass BEFORE committing to it.
    Query("ext64_dup_stats", (s, dir) =>
      graft.ops.Reporting.dupStats(
        graft.ops.Reporting.clusterStats(dupClusters(s, dir)),
        docs(s, dir).agg(count(lit(1)).as("n_total"))),
      // Same transitive closure as the ext27/ext51 oracles; the report
      // tail aggregates cluster sizes and cross-joins the 1-row corpus
      // total (empty-graph edges coalesce to 0 on both sides).
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |sz AS (SELECT cluster_id, count(*) AS n FROM cl GROUP BY 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters,
         |               CAST(COALESCE(SUM(n), 0) AS BIGINT)
         |                 AS n_clustered_docs,
         |               CAST(COALESCE(max(n), 0) AS BIGINT) AS max_cluster
         |        FROM sz)
         |SELECT n_clusters, n_clustered_docs, max_cluster,
         |       ((n_clustered_docs - n_clusters) * 1000000) // n_total
         |         AS dup_mass_q
         |FROM agg, t""".stripMargin),

    // Corpus data card: the one-row summary a dataset ships with —
    // volume (docs/tokens), composition (langs/sources, largest-source
    // share in ppm), and redundancy (dup mass off the stored cluster
    // map). ONE corpus scan: a (lang, source)-grouped partial feeds
    // every card field; the cluster term reads the build-once artifact.
    Query("ext66_data_card", (s, dir) =>
      graft.ops.Reporting.dataCard(
        graft.ops.Reuse.shared(
          graft.ops.Reporting.cardPartials(docs(s, dir))),
        graft.ops.Reporting.clusterStats(dupClusters(s, dir))),
      // The card's corpus fields all derive from one (lang, source)
      // grouped CTE; the redundancy term replays the cluster closure.
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |sz AS (SELECT cluster_id, count(*) AS n FROM cl GROUP BY 1),
         |ca AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters,
         |              CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_clustered
         |       FROM sz),
         |g AS (SELECT lang, source, count(*) AS c,
         |             CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
         |               AS t
         |      FROM documents GROUP BY 1, 2),
         |base AS (SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
         |                CAST(SUM(t) AS BIGINT) AS n_tokens,
         |                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |                CAST(count(DISTINCT source) AS BIGINT)
         |                  AS n_sources
         |         FROM g),
         |ts AS (SELECT CAST(max(sc) AS BIGINT) AS max_src FROM
         |        (SELECT source, SUM(c) AS sc FROM g GROUP BY 1))
         |SELECT n_docs, n_tokens, n_langs, n_sources,
         |       (max_src * 1000000) // n_docs AS top_source_share_q,
         |       ((n_clustered - n_clusters) * 1000000) // n_docs
         |         AS dup_mass_q
         |FROM base, ts, ca""".stripMargin),

    // Bloom-probed decontamination, priced: the ext32 doc-flag decision
    // with the benchmark membership carried as m-bit/k-hash Bloom bits
    // (the BFF/Dolma filter shape — O(m) bits at any key count,
    // one-sided error) vs the exact hash set, one card row: doc-flag
    // agreement + the measured shingle-level false-positive rate.
    Query("ext102_bloom_decontaminate", (s, dir) => {
      val d = docs(s, dir)
      Sketches.bloomContaminationAudit(
        d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
    },
      // Bloom decontamination card: same shingle relation as ext32; bit
      // positions are the shared universal-hash family mod m, the probe
      // is "all k positions set".
      {
        def p(j: Int, e: String) =
          s"((($e) * ${Hashing.seedA(j)} + ${Hashing.seedB(j)}) % $P)" +
            s" % ${Sketches.BloomM}"
        def posUnion(src: String, cols: String) =
          (0 until Sketches.BloomK).map(j =>
            s"SELECT $cols, ${p(j, "h")} AS bit FROM $src")
            .mkString("\n  |  UNION ALL\n  |  ")
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
           |             FROM documents),
           |sh_all AS (
           |  SELECT DISTINCT doc_id,
           |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
           |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
           |bench AS (SELECT DISTINCT h FROM sh_all WHERE doc_id < 20),
           |corp AS (SELECT doc_id, h FROM sh_all WHERE doc_id >= 20),
           |bits AS (SELECT DISTINCT bit FROM (
           |  ${posUnion("bench", "h AS bh")})),
           |pos AS (
           |  ${posUnion("corp", "doc_id, h")}),
           |hits AS (
           |  SELECT p.doc_id, p.h,
           |         CASE WHEN count(b.bit) = ${Sketches.BloomK}
           |              THEN 1 ELSE 0 END AS bloom_hit
           |  FROM pos p LEFT JOIN bits b USING (bit) GROUP BY 1, 2),
           |perdoc AS (
           |  SELECT c.doc_id, count(*) AS n_sh,
           |         SUM(CASE WHEN be.h IS NOT NULL THEN 1 ELSE 0 END)
           |           AS n_exact,
           |         SUM(hi.bloom_hit) AS n_bloom
           |  FROM corp c
           |  LEFT JOIN bench be ON be.h = c.h
           |  JOIN hits hi ON hi.doc_id = c.doc_id AND hi.h = c.h
           |  GROUP BY 1),
           |card AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(COALESCE(SUM(CASE WHEN CAST(n_exact AS DOUBLE)
           |              / CAST(n_sh AS DOUBLE) >= 0.8 THEN 1 ELSE 0 END),
           |           0) AS BIGINT) AS docs_flagged_exact,
           |         CAST(COALESCE(SUM(CASE WHEN CAST(n_bloom AS DOUBLE)
           |              / CAST(n_sh AS DOUBLE) >= 0.8 THEN 1 ELSE 0 END),
           |           0) AS BIGINT) AS docs_flagged_bloom,
           |         CAST(COALESCE(SUM(CASE WHEN CAST(n_bloom AS DOUBLE)
           |                / CAST(n_sh AS DOUBLE) >= 0.8
           |              AND NOT (CAST(n_exact AS DOUBLE)
           |                / CAST(n_sh AS DOUBLE) >= 0.8)
           |              THEN 1 ELSE 0 END), 0) AS BIGINT) AS docs_false_pos,
           |         CAST(COALESCE(SUM(n_sh), 0) AS BIGINT) AS shingle_probes,
           |         CAST(COALESCE(SUM(n_sh - n_exact), 0) AS BIGINT)
           |           AS nonmember_probes,
           |         CAST(COALESCE(SUM(n_bloom - n_exact), 0) AS BIGINT)
           |           AS shingle_fp
           |  FROM perdoc)
           |SELECT c.*,
           |       (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
           |       CAST(CASE WHEN nonmember_probes = 0 THEN 0
           |            ELSE (shingle_fp * 1000000) // nonmember_probes END
           |         AS BIGINT) AS fpr_ppm
           |FROM card c""".stripMargin
      }),

    // HyperLogLog distinct per event_type — the production distinct
    // sketch beside ext21's KMV: m = 256 BYTE registers per group (state
    // fixed regardless of cardinality), no distinct pass anywhere
    // (register max absorbs duplicates), elementwise-max mergeable
    // across shards/batches. Registers derive from the portable hash,
    // so even the ESTIMATE is oracle-checked — the scaled harmonic sum
    // is an exact int64 in both engines. Aggregator form = the scale
    // path: the exchange carries one 256-byte buffer per group per map
    // task. exact_distinct rides along for error checks (ext21
    // convention).
    Query("ext132_hll_distinct", (s, dir) =>
      Sketches.hllDistinctAgg(Tables.events(s, dir), col("event_type"),
          col("user_id"))
        .orderBy("entity"),
      // The oracle recomputes the HLL registers from the same portable
      // hash and the estimate from the same single-literal numerator; the
      // scaled harmonic sum (every addend 2^(24-rho) a whole number) is
      // integer-exact, so register state AND estimate both hash-compare.
      s"""WITH hv AS (
         |  SELECT event_type AS entity,
         |         ${hashSql("'hll:' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (SELECT entity, h % ${Sketches.HllM} AS idx,
         |        max(CASE WHEN h // ${Sketches.HllM} = 0
         |                 THEN ${Sketches.HllRhoMax}
         |                 ELSE ${Sketches.HllRhoMax}
         |                      - length(bin(h // ${Sketches.HllM})) END)
         |          AS rho
         |      FROM hv GROUP BY 1, 2),
         |a AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_hit,
         |        CAST(sum(CAST(1 AS BIGINT)
         |                 << CAST(${Sketches.HllRhoMax} - rho AS INT))
         |             AS BIGINT) AS hit_scaled
         |      FROM r GROUP BY 1),
         |e AS (SELECT entity, ${Sketches.HllM} - n_hit AS v_zero,
         |        hit_scaled + (${Sketches.HllM} - n_hit)
         |          * ${1L << Sketches.HllRhoMax} AS harmonic_scaled
         |      FROM a),
         |x AS (SELECT event_type AS entity,
         |             CAST(count(DISTINCT user_id) AS BIGINT)
         |               AS exact_distinct
         |      FROM events GROUP BY 1)
         |SELECT e.entity, e.v_zero, e.harmonic_scaled,
         |  CASE WHEN (${Sketches.HllAlphaNum}
         |             / CAST(e.harmonic_scaled AS DOUBLE))
         |            <= ${2.5 * Sketches.HllM} AND e.v_zero > 0
         |       THEN ${Sketches.HllM.toDouble}
         |            * ln(${Sketches.HllM.toDouble}
         |                 / CAST(e.v_zero AS DOUBLE))
         |       ELSE ${Sketches.HllAlphaNum}
         |            / CAST(e.harmonic_scaled AS DOUBLE) END
         |    AS est_distinct,
         |  x.exact_distinct
         |FROM e JOIN x USING (entity)
         |ORDER BY entity""".stripMargin),

    // Octave-quantized PSI drift card between the ext81/82 parity
    // snapshots over the doc-length log2 histogram: per-bin
    // (p-q)*oct2(p/q) contributions (all >= 0 by sign alignment) plus
    // the TOTAL tripwire row (bucket = -1) — the standard
    // population-stability drift monitor made engine-exact.
    Query("ext150_psi_drift", (s, dir) =>
      graft.ops.Reporting.psiDrift(docs(s, dir),
        col("doc_id") % 2 === 0, col("n_chars")).orderBy("bucket"),
      // PSI replay: log2 length buckets, Laplace ppm shares, bit-length
      // octave of the share ratio, aligned-sign contributions, total row.
      """WITH c AS (
        |  SELECT CAST(length(bin(greatest(CAST(n_chars AS BIGINT), 1)))
        |              - 1 AS BIGINT) AS bucket,
        |         CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_a,
        |         CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)
        |              AS BIGINT) AS n_b
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
        |             CAST(SUM(n_b) AS BIGINT) AS tb,
        |             CAST(COUNT(*) AS BIGINT) AS nb FROM c),
        |p AS (SELECT bucket, n_a, n_b,
        |        greatest((1000000 * (n_a + 1)) // (ta + nb), 1) AS p_ppm,
        |        greatest((1000000 * (n_b + 1)) // (tb + nb), 1) AS q_ppm
        |      FROM c, t),
        |f AS (SELECT bucket, n_a, n_b, p_ppm, q_ppm,
        |        CAST(length(bin((1000000 * p_ppm) // q_ppm))
        |             AS BIGINT) - 20 AS oct2,
        |        (p_ppm - q_ppm) *
        |          (CAST(length(bin((1000000 * p_ppm) // q_ppm))
        |                AS BIGINT) - 20) AS psi_contrib
        |      FROM p)
        |SELECT * FROM (
        |  SELECT * FROM f
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT),
        |         CAST(COALESCE(SUM(n_a), 0) AS BIGINT),
        |         CAST(COALESCE(SUM(n_b), 0) AS BIGINT),
        |         CAST(1000000 AS BIGINT), CAST(1000000 AS BIGINT),
        |         CAST(0 AS BIGINT),
        |         CAST(COALESCE(SUM(psi_contrib), 0) AS BIGINT)
        |  FROM f)
        |ORDER BY bucket""".stripMargin),

    // Exact per-lang quantiles WITHOUT sorting — distributed selection
    // by binary search on the VALUE DOMAIN: the k = ceil(q*n/100)-th
    // smallest found in <= log2(max-min) map-side-combined count
    // passes with ZERO data shuffles; completes the quantile trade
    // square (ext24 exact-by-sort, ext56 one-pass 2x-bounded, ext33
    // one-pass sampled).
    Query("ext151_selection_quantiles", (s, dir) =>
      Sketches.selectionQuantiles(docs(s, dir), Seq("lang"),
        col("n_chars")).orderBy("lang", "q"),
      // Selection-quantile replay: rank every row, pick rn = ceil(q*n/100)
      // — the k-th order statistic (ties share the value, so the pick is
      // deterministic in `value` even though row_number is not).
      """WITH r AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS v,
        |         row_number() OVER (
        |           PARTITION BY lang ORDER BY n_chars) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, CAST(qq.q AS BIGINT) AS q, v AS value
        |FROM r, (VALUES (50), (90)) qq(q)
        |WHERE rn = (qq.q * n + 99) // 100
        |ORDER BY lang, q""".stripMargin),

    // Bloom semi-join reduction ledger: the dim side's keys folded
    // into a 4 KiB literal bitset probed inside the fact scan (k
    // codegen'd bit tests) — only survivors reach the exchange;
    // false_neg is the structural-zero tripwire, fpr_ppm the priced
    // shuffle waste.
    Query("ext168_bloom_semijoin", (s, dir) =>
      Sketches.bloomSemiJoinLedger(
        Tables.lineitem(s, dir),
        Tables.orders(s, dir).filter(col("o_totalprice") > 400000),
        col("l_orderkey"), col("o_orderkey")),
      // Bloom semi-join: the same md5-based portable hash + (a*h+b)%p%m
      // positions, pass = all 3 positions in the dim bit set, ledger
      // aggregated over the fact scan.
      {
        def pos(j: Int) =
          s"((h * ${Hashing.seedA(j)} + ${Hashing.seedB(j)})" +
            s" % 2147483647) % 32768"
        s"""WITH dk AS (SELECT DISTINCT o_orderkey AS kk FROM orders
           |            WHERE o_totalprice > 400000),
           |dh AS (SELECT kk,
           |         ${hashSql("'bsj:' || CAST(kk AS VARCHAR)")} AS h
           |       FROM dk),
           |bits AS (SELECT DISTINCT b FROM (
           |  SELECT unnest([${pos(0)}, ${pos(1)}, ${pos(2)}]) AS b
           |  FROM dh)),
           |f AS (SELECT l_orderkey AS k,
           |        ${hashSql("'bsj:' || CAST(l_orderkey AS VARCHAR)")} AS h
           |      FROM lineitem),
           |fp AS (SELECT k,
           |         CASE WHEN ${pos(0)} IN (SELECT b FROM bits)
           |               AND ${pos(1)} IN (SELECT b FROM bits)
           |               AND ${pos(2)} IN (SELECT b FROM bits)
           |         THEN 1 ELSE 0 END AS pass,
           |         CASE WHEN k IN (SELECT kk FROM dk)
           |         THEN 1 ELSE 0 END AS m
           |       FROM f)
           |SELECT CAST(count(*) AS BIGINT) AS fact_rows,
           |  (SELECT CAST(count(*) AS BIGINT) FROM dk) AS dim_keys,
           |  CAST(sum(m) AS BIGINT) AS matched,
           |  CAST(sum(pass) AS BIGINT) AS passed,
           |  CAST(sum(CASE WHEN pass = 1 AND m = 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS false_passed,
           |  CAST(sum(CASE WHEN pass = 0 AND m = 1 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS false_neg,
           |  CAST(sum(CASE WHEN pass = 1 AND m = 0 THEN 1 ELSE 0 END)
           |    * 1000000 // greatest(count(*) - sum(m), 1) AS BIGINT)
           |    AS fpr_ppm,
           |  (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set
           |FROM fp""".stripMargin
      }),

    // Signal-redundancy audit: pairwise Pearson over four per-doc
    // integer signals (tokens, chars, type-token ratio, mean word
    // length) — two signals at |corr|→1 gate the same documents, so
    // one is filter budget spent twice. Exact int64 moments off ONE
    // aggregate; the corr is a fixed IEEE sequence (cosine contract).
    Query("ext115_signal_correlation", (s, dir) =>
      graft.ops.Reporting.signalCorrelations(docs(s, dir), Seq(
        "n_toks" -> size(split(col("text"), " ")).cast("long"),
        "n_chars" -> length(col("text")).cast("long"),
        "ttr_ppm" -> expr("(size(array_distinct(split(text, ' '))) " +
          "* 1000000) DIV size(split(text, ' '))"),
        "wlen_ppm" -> expr("((length(text) - (size(split(text, ' ')) " +
          "- 1)) * 1000000) DIV size(split(text, ' '))")))
        .orderBy("sig_a", "sig_b"),
      // Correlation: the same exact int64 moments, the same fixed IEEE
      // corr expression per pair; pairs generated in the same order.
      {
        val names = Seq("n_toks", "n_chars", "ttr_ppm", "wlen_ppm")
        val sums = names.map(n =>
          s"CAST(SUM($n) AS BIGINT) AS s_$n").mkString(",\n  |       ")
        val quads = names.map(n =>
          s"SUM(CAST($n AS HUGEINT) * $n) AS q_$n").mkString(",\n  |       ")
        val crosses = names.combinations(2).map { case Seq(a, b) =>
          s"SUM(CAST($a AS HUGEINT) * $b) AS x_${a}__$b"
        }.mkString(",\n  |       ")
        val rows = names.combinations(2).map { case Seq(a, b) =>
          s"""SELECT '$a' AS sig_a, '$b' AS sig_b, n,
             |       CAST(CASE WHEN CAST(n AS HUGEINT) * q_$a
             |                      - CAST(s_$a AS HUGEINT) * s_$a = 0
             |                   OR CAST(n AS HUGEINT) * q_$b
             |                      - CAST(s_$b AS HUGEINT) * s_$b = 0 THEN 0
             |            ELSE floor(1000000.0 *
             |              (CAST(CAST(n AS HUGEINT) * x_${a}__$b
             |                    - CAST(s_$a AS HUGEINT) * s_$b AS DOUBLE) /
             |               sqrt(CAST(CAST(n AS HUGEINT) * q_$a
             |                    - CAST(s_$a AS HUGEINT) * s_$a AS DOUBLE) *
             |                    CAST(CAST(n AS HUGEINT) * q_$b
             |                    - CAST(s_$b AS HUGEINT) * s_$b AS DOUBLE))))
             |            END AS BIGINT) AS corr_ppm
             |FROM m""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH sig AS (
           |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
           |         CAST(length(text) AS BIGINT) AS n_chars,
           |         CAST((len(list_distinct(string_split(text, ' ')))
           |              * 1000000) // len(string_split(text, ' '))
           |           AS BIGINT) AS ttr_ppm,
           |         CAST(((length(text) - (len(string_split(text, ' '))
           |              - 1)) * 1000000) // len(string_split(text, ' '))
           |           AS BIGINT) AS wlen_ppm
           |  FROM documents),
           |m AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |       $sums,
           |       $quads,
           |       $crosses
           |  FROM sig)
           |SELECT * FROM (
           |$rows)
           |ORDER BY sig_a, sig_b""".stripMargin
      })
  )
}
