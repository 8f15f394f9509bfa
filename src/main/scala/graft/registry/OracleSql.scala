package graft.registry

import graft.agg.Windows
import graft.ops.{Dedup, Hashing, TextOps}
import Artifacts.NumQueryVecs

/** The DuckDB side's shared fragments: the CTE chains and SQL
  * builders more than one oracle assembles its query from. Each one
  * restates an operator's math in SQL; none reads the Spark side. */
private[registry] object OracleSql {

  // Epoch seconds from the ns timestamp; integer floor division matches
  // Spark's cast(timestamp as long).
  val EsSql = "epoch_ns(ts) // 1000000000"
  // 10-minute tumbling window end (epoch s).
  val TumblingEndSql = s"(($EsSql) // 600) * 600 + 600"
  // Hopping 10-min/1-min windows: each row belongs to the 10 windows ending
  // at minuteFloor+60 .. minuteFloor+600 (join with range(10)).
  def hoppingSql(cols: String) =
    s"""WITH hop AS (
       |  SELECT $cols, ((($EsSql) // 60) - k) * 60 + 600 AS window_end
       |  FROM events, range(10) t(k))""".stripMargin

  val entityAggSql =
    s"""${hoppingSql("user_id AS entity, value")},
       |agg AS (
       |  SELECT window_end, entity, count(*) AS tweet_count,
       |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS follower_sum
       |  FROM hop GROUP BY 1, 2)""".stripMargin

  val typeAggSql =
    s"""${hoppingSql("event_type AS entity, value")},
       |agg AS (
       |  SELECT window_end, entity, count(*) AS tweet_count,
       |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS follower_sum
       |  FROM hop GROUP BY 1, 2)""".stripMargin

  /** The entity-payload STORE relation recomputed from raw events (the
    * oracle side of op38_store_entity / op38_store_payload /
    * op41_store_recent — layout invisible in results): per-entity hopping
    * multi-agg + max_props, top-N rank per window, and the full
    * top-`Windows.ExamplesPerEntity` example payloads per entity
    * (`top_ids` compact ids; `examples_str` the serialized
    * TweetDescription fields id|screenName|followerCount|text, value
    * formatted through DECIMAL(18,6) so both engines print identically). */
  val entityStoreSql =
    s"""WITH hop AS (
       |  SELECT event_type AS entity, value, props, event_id, user_id,
       |         ((($EsSql) // 60) - k) * 60 + 600 AS window_end
       |  FROM events, range(10) t(k)),
       |agg AS (
       |  SELECT window_end, entity, count(*) AS tweet_count,
       |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |           AS follower_sum,
       |         max(props) AS max_props
       |  FROM hop GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY window_end
       |    ORDER BY follower_sum DESC, entity ASC) AS BIGINT) AS rank
       |  FROM agg),
       |exr AS (
       |  SELECT window_end, entity, value, event_id, user_id, props,
       |         row_number() OVER (
       |    PARTITION BY window_end, entity
       |    ORDER BY value DESC, event_id ASC) AS rn
       |  FROM hop),
       |ex AS (
       |  SELECT window_end, entity,
       |         string_agg(CAST(event_id AS VARCHAR), ','
       |                    ORDER BY value DESC, event_id ASC) AS top_ids,
       |         string_agg(CAST(event_id AS VARCHAR) || '|' ||
       |                    CAST(user_id AS VARCHAR) || '|' ||
       |                    CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) ||
       |                    '|' || props, ';'
       |                    ORDER BY value DESC, event_id ASC)
       |           AS examples_str
       |  FROM exr WHERE rn <= ${Windows.ExamplesPerEntity}
       |  GROUP BY 1, 2)""".stripMargin

  val P = Hashing.Mersenne31

  def hashSql(e: String) = Hashing.portableHash32Sql(e)

  /** Span-surgery CTE chain over relation `src`(doc_id, text, ...),
    * name-prefixed so the ext126 pipeline can chain two surgeries:
    * rep = within-doc (cut repeats of a (doc, h)-first occurrence,
    * ext123's math), else cross-doc (cut occurrences whose h has a
    * lower-id keeper, ext96's math). Leaves `{p}out(doc_id,
    * clean_text)`. */
  def surgerySqlCtes(src: String, p: String,
      rep: Boolean): String = {
    val cutDef =
      if (rep)
        s"""${p}fst AS (SELECT doc_id, h, min(i) AS i0
           |        FROM ${p}pos GROUP BY 1, 2),
           |${p}cut AS (
           |  SELECT DISTINCT q.doc_id, q.i + o AS cp
           |  FROM ${p}pos q JOIN ${p}fst f2 USING (doc_id, h),
           |       range(0, 3) r(o)
           |  WHERE q.i > f2.i0),""".stripMargin
      else
        s"""${p}fst AS (SELECT h, min(doc_id) AS k0
           |        FROM ${p}pos GROUP BY 1),
           |${p}cut AS (
           |  SELECT DISTINCT q.doc_id, q.i + o AS cp
           |  FROM ${p}pos q JOIN ${p}fst f2 USING (h), range(0, 3) r(o)
           |  WHERE q.doc_id > f2.k0),""".stripMargin
    s"""${p}toks AS (SELECT doc_id, string_split(text, ' ') AS tk
       |        FROM $src),
       |${p}pos AS (
       |  SELECT doc_id, i,
       |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
       |  FROM ${p}toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
       |    ON i <= len(tk) - 2),
       |$cutDef
       |${p}tkr AS (
       |  SELECT doc_id, unnest(tk) AS tok,
       |         unnest(range(1, len(tk) + 1)) AS tp
       |  FROM ${p}toks),
       |${p}out AS (
       |  SELECT t.doc_id,
       |         COALESCE(string_agg(CASE WHEN c.cp IS NULL THEN t.tok END,
       |           ' ' ORDER BY t.tp), '') AS clean_text
       |  FROM ${p}tkr t LEFT JOIN ${p}cut c
       |    ON c.doc_id = t.doc_id AND c.cp = t.tp
       |  GROUP BY t.doc_id)""".stripMargin
  }

  /** Distinct capped shingle hashes — twin of Dedup.shingleHashes,
    * parameterized over the source relation (CTE body, no WITH) and a
    * CTE-name suffix so two corpora can coexist in one query (the
    * stop-shingle cap is computed per corpus, matching the Spark side's
    * per-call semantics). */
  def shingleCtes(src: String, sfx: String = "") =
    s"""toks$sfx AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $src),
       |sh0$sfx AS (
       |  SELECT DISTINCT doc_id,
       |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
       |  FROM toks$sfx JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
       |hot$sfx AS (SELECT h FROM sh0$sfx GROUP BY h HAVING count(*) > 50),
       |sh$sfx AS (SELECT * FROM sh0$sfx ANTI JOIN hot$sfx USING (h))""".stripMargin

  val ShingleSql = "WITH " + shingleCtes("documents")

  val minhashMinsSql = (0 until Dedup.NumHashes).map { j =>
    s"min((h * ${Hashing.seedA(j)} + ${Hashing.seedB(j)}) % $P) AS mh$j"
  }.mkString(",\n         ")

  val bandSigSql = (0 until Dedup.NumHashes / Dedup.BandRows).map {
    b =>
      val parts = (0 until Dedup.BandRows)
        .map(r => s"CAST(mh${b * Dedup.BandRows + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"WHEN ${b} THEN $parts"
  }.mkString(" ")

  val eqCountSql = (0 until Dedup.NumHashes)
    .map(j => s"CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** Shared recursive-CTE chain: shingles → MinHash signatures → LSH
    * bands → candidate pairs → transitive closure (`reach`). Used by
    * the ext27 clusters oracle and the ext47 keeper oracle (must stay
    * identical between them — both mirror Components over minhashLsh). */
  lazy val clusterCtes =
    s"""${shingleCtes("documents")},
       |sig AS (
       |  SELECT doc_id,
       |         $minhashMinsSql
       |  FROM sh GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, b.band_id,
       |         CASE b.band_id $bandSigSql END AS band_sig
       |  FROM sig, (VALUES (0), (1), (2), (3)) b(band_id)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |  FROM bands a JOIN bands b2 USING (band_id, band_sig)
       |  WHERE a.doc_id < b2.doc_id),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM cand
       |          UNION ALL SELECT id_b, id_a FROM cand),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS label FROM nodes
       |  UNION
       |  SELECT e.dst AS id, r.label
       |  FROM reach r JOIN edges e ON e.src = r.id)""".stripMargin

  /** Unrolled Lloyd's-iteration CTE chain for the ext28 oracle: flat
    * (vec_id, i, qi) centroid representation; each round is an
    * assign-by-integer-distance + floor-quantized per-dimension mean —
    * the SQL mirror of Similarity.kmeansBuckets' determinism rules. */
  def kmeansSql(k: Int, iters: Int): String =
    s"""$QuantFlatSql,
       |${kmeansCtes(k, iters)}
       |SELECT vec_id, CAST(cid AS BIGINT) AS bucket FROM a${iters + 1}
       |ORDER BY vec_id""".stripMargin

  /** The Lloyd's-iteration CTE blocks alone (assumes QuantFlatSql's
    * `q`/`flat`/`n2` are in scope); final assignment CTE is
    * `{pfx}a{iters+1}`. Shared by the ext28 oracle and the ext31
    * kmeans-IVF oracle. `pfx` prefixes every CTE name so the chain can
    * coexist with [[pqAdcCtes]] (whose internal Lloyd's rounds use the
    * same c0/a_r/d_r names) in one WITH — the ext117/118 composition. */
  def kmeansCtes(k: Int, iters: Int, pfx: String = ""): String = {
    val blocks = new StringBuilder
    blocks ++=
      s"""${pfx}c0 AS (
         |  SELECT f.vec_id AS cid, f.i, f.qi AS cv FROM flat f
         |  WHERE f.vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT $k)),
         |""".stripMargin
    (1 to iters + 1).foreach { r =>
      val c = s"${pfx}c${r - 1}"
      blocks ++=
        s"""${c}n AS (SELECT cid, CAST(SUM(cv * cv) AS BIGINT) AS cn2
           |       FROM $c GROUP BY 1),
           |${pfx}d$r AS (
           |  SELECT f.vec_id, c.cid,
           |         CAST(n2.n2 + cn.cn2
           |              - 2 * CAST(SUM(f.qi * c.cv) AS BIGINT) AS BIGINT)
           |           AS dist
           |  FROM flat f JOIN $c c ON c.i = f.i
           |       JOIN n2 ON n2.vec_id = f.vec_id
           |       JOIN ${c}n cn ON cn.cid = c.cid
           |  GROUP BY f.vec_id, c.cid, n2.n2, cn.cn2),
           |${pfx}a$r AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid, row_number() OVER (
           |      PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM ${pfx}d$r)
           |  WHERE rn = 1),
           |""".stripMargin
      if (r <= iters) blocks ++=
        s"""${pfx}c$r AS (
           |  SELECT a.cid, f.i,
           |         CAST(floor(CAST(SUM(f.qi) AS DOUBLE) / COUNT(*))
           |              AS BIGINT) AS cv
           |  FROM ${pfx}a$r a JOIN flat f ON f.vec_id = a.vec_id
           |  GROUP BY 1, 2),
           |""".stripMargin
    }
    blocks.toString.stripSuffix(",\n")
  }

  /** The WITHIN-BUCKET Lloyd's replay behind ext124 — [[kmeansCtes]]
    * with `bucket` joined into every key, exactly as
    * [[graft.ops.Similarity.splitOversizedBuckets]] adds it: seeds =
    * the `split` smallest DISTINCT-VECTOR representatives (min vid per
    * distinct quantized vector — the r13 mass-duplication hardening)
    * per oversized bucket, each round
    * one distance join restricted to the member's own parent, argmin
    * tie-break (dist, ccid), floor-mean update per (bucket, ccid, i).
    * Assumes `flat`/`n2` (QuantFlatSql) and `mem(vec_id, bucket)` (the
    * oversized-bucket membership) are in scope; leaves
    * `sa${"{iters+1}"}` (final child assignment) and `sc${"{iters}"}`
    * (final surviving centroids) for the tail. */
  def bucketSplitCtes(split: Int, iters: Int): String = {
    val blocks = new StringBuilder
    blocks ++=
      s"""seeds AS (
         |  SELECT bucket, ccid FROM (
         |    SELECT bucket, ccid, row_number() OVER (
         |      PARTITION BY bucket ORDER BY ccid) AS rn
         |    FROM (SELECT bucket, min(vec_id) AS ccid
         |          FROM (SELECT m.bucket, m.vec_id,
         |                       list(f.qi ORDER BY f.i) AS v
         |                FROM mem m JOIN flat f ON f.vec_id = m.vec_id
         |                GROUP BY m.bucket, m.vec_id)
         |          GROUP BY bucket, v))
         |  WHERE rn <= $split),
         |sc0 AS (
         |  SELECT s.bucket, s.ccid, f.i, f.qi AS cv
         |  FROM seeds s JOIN flat f ON f.vec_id = s.ccid),
         |""".stripMargin
    (1 to iters + 1).foreach { r =>
      val c = s"sc${r - 1}"
      blocks ++=
        s"""${c}n AS (SELECT bucket, ccid, CAST(SUM(cv * cv) AS BIGINT)
           |         AS cn2 FROM $c GROUP BY 1, 2),
           |sd$r AS (
           |  SELECT m.vec_id, c.bucket, c.ccid,
           |         CAST(n2.n2 + cn.cn2
           |              - 2 * CAST(SUM(f.qi * c.cv) AS BIGINT) AS BIGINT)
           |           AS dist
           |  FROM mem m JOIN flat f ON f.vec_id = m.vec_id
           |       JOIN $c c ON c.bucket = m.bucket AND c.i = f.i
           |       JOIN n2 ON n2.vec_id = m.vec_id
           |       JOIN ${c}n cn ON cn.bucket = c.bucket
           |                    AND cn.ccid = c.ccid
           |  GROUP BY m.vec_id, c.bucket, c.ccid, n2.n2, cn.cn2),
           |sa$r AS (
           |  SELECT vec_id, bucket, ccid FROM (
           |    SELECT vec_id, bucket, ccid, row_number() OVER (
           |      PARTITION BY vec_id ORDER BY dist, ccid) AS rn FROM sd$r)
           |  WHERE rn = 1),
           |""".stripMargin
      if (r <= iters) blocks ++=
        s"""sc$r AS (
           |  SELECT a.bucket, a.ccid, f.i,
           |         CAST(floor(CAST(SUM(f.qi) AS DOUBLE) / COUNT(*))
           |              AS BIGINT) AS cv
           |  FROM sa$r a JOIN flat f ON f.vec_id = a.vec_id
           |  GROUP BY 1, 2, 3),
           |""".stripMargin
    }
    blocks.toString.stripSuffix(",\n")
  }

  /** Quantized embeddings flattened to (vec_id, i, qi) — twin of
    * Similarity.quantize. */
  val QuantFlatSql =
    s"""WITH q AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding,
       |           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |flat AS (
       |  SELECT vec_id, label, unnest(qv) AS qi,
       |         unnest(range(1, len(qv) + 1)) AS i
       |  FROM q),
       |n2 AS (SELECT vec_id, CAST(SUM(qi * qi) AS BIGINT) AS n2
       |       FROM flat GROUP BY 1)""".stripMargin

  /** The dots→scored→ranked CTE chain of the cosine-top-k oracle,
    * name-suffixed so two independent rankings (brute truth vs IVF
    * candidates in the ext57 recall audit) can coexist in one query.
    * Assumes QuantFlatSql's `flat`/`n2` are in scope. */
  def cosTopKCtes(sfx: String, bucketJoin: String,
      scoreWhere: String = ""): String =
    s"""dots$sfx AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS t_id,
       |         CAST(SUM(a.qi * b.qi) AS BIGINT) AS dot
       |  FROM flat a JOIN flat b ON a.i = b.i $bucketJoin
       |  WHERE a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |scored$sfx AS (
       |  SELECT q_id, t_id,
       |         CAST(dot AS DOUBLE) /
       |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cos
       |  FROM dots$sfx JOIN n2 na ON na.vec_id = q_id
       |            JOIN n2 nb ON nb.vec_id = t_id),
       |r$sfx AS (SELECT *, row_number() OVER (
       |        PARTITION BY q_id ORDER BY cos DESC, t_id ASC) AS rank
       |      FROM scored$sfx $scoreWhere)""".stripMargin

  /** Random-hyperplane signature CTEs (`hp`/`projs`/`sigs`) shared by
    * the ext07 ANN oracle and the ext88 recall oracle; assumes
    * QuantFlatSql's `flat` is in scope. */
  lazy val lshSigCtes =
    s"""hp AS (
       |  SELECT a.j, b.i,
       |         CASE WHEN ((${hashSql("'hp' || CAST(a.j AS VARCHAR) || ':' || CAST(b.i - 1 AS VARCHAR)")})
       |                    >> CAST(a.j % 31 AS INTEGER)) % 2 = 0
       |              THEN 1 ELSE -1 END AS sgn
       |  FROM range(8) a(j), range(1, 65) b(i)),
       |projs AS (
       |  SELECT f.vec_id, h.j, CAST(SUM(h.sgn * f.qi) AS BIGINT) AS proj
       |  FROM flat f JOIN hp h ON h.i = f.i GROUP BY 1, 2),
       |sigs AS (
       |  SELECT vec_id,
       |         CAST(SUM(CASE WHEN proj > 0
       |           THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER))
       |           ELSE 0 END) AS BIGINT) AS sig
       |  FROM projs GROUP BY 1)""".stripMargin

  /** Signature-equality bucket join for [[cosTopKCtes]] — the SQL twin
    * of lshTopK's candidate generation. */
  val lshBucketJoin =
    """JOIN sigs sa ON sa.vec_id = a.vec_id
      |       JOIN sigs sb ON sb.vec_id = b.vec_id AND sb.sig = sa.sig"""
      .stripMargin

  def cosTopKSql(bucketJoin: String, k: Int,
      extraCtes: String = "", scoreWhere: String = "") =
    s"""$QuantFlatSql,
       |${if (extraCtes.isEmpty) "" else extraCtes + ",\n"}${
         cosTopKCtes("", bucketJoin, scoreWhere)}
       |SELECT q_id, t_id, CAST(rank AS BIGINT) AS rank, cos
       |FROM r WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** ADC chain shared by the PQ oracles (ext107/ext108): sub-flat view
    * of the quantized embeddings, the m-keyed Lloyd's rounds (all
    * subspace codebooks per round in one pass — the SQL twin of
    * Similarity.pqCodebooks), the per-query LUT, ADC scores (`spqs`)
    * and the ranked ADC relation (`rpq`). Assumes QuantFlatSql's
    * `q`/`flat` in scope. */
  lazy val pqAdcCtes: String = {
    val K = graft.ops.Similarity.PqCodes
    val iters = graft.ops.Similarity.PqIters
    val d = 64 / graft.ops.Similarity.PqSubspaces
    val blocks = new StringBuilder
    blocks ++=
      s"""sflat AS (
         |  SELECT vec_id, CAST((i - 1) // $d AS BIGINT) AS m,
         |         ((i - 1) % $d) + 1 AS si, qi FROM flat),
         |ssn2 AS (SELECT vec_id, m, CAST(SUM(qi * qi) AS BIGINT) AS sn2
         |        FROM sflat GROUP BY 1, 2),
         |c0 AS (
         |  SELECT f.m, f.vec_id AS code, f.si, f.qi AS cv FROM sflat f
         |  WHERE f.vec_id IN (SELECT vec_id FROM q ORDER BY vec_id
         |                     LIMIT $K)),
         |""".stripMargin
    (1 to iters + 1).foreach { r =>
      val c = s"c${r - 1}"
      blocks ++=
        s"""${c}n AS (SELECT m, code, CAST(SUM(cv * cv) AS BIGINT) AS cn2
           |        FROM $c GROUP BY 1, 2),
           |d$r AS (
           |  SELECT f.vec_id, f.m, c.code,
           |         CAST(sn.sn2 + cn.cn2
           |              - 2 * CAST(SUM(f.qi * c.cv) AS BIGINT) AS BIGINT)
           |           AS dist
           |  FROM sflat f JOIN $c c ON c.m = f.m AND c.si = f.si
           |       JOIN ssn2 sn ON sn.vec_id = f.vec_id AND sn.m = f.m
           |       JOIN ${c}n cn ON cn.m = c.m AND cn.code = c.code
           |  GROUP BY f.vec_id, f.m, c.code, sn.sn2, cn.cn2),
           |a$r AS (
           |  SELECT vec_id, m, code FROM (
           |    SELECT vec_id, m, code, row_number() OVER (
           |      PARTITION BY vec_id, m ORDER BY dist, code) AS rn
           |    FROM d$r)
           |  WHERE rn = 1),
           |""".stripMargin
      if (r <= iters) blocks ++=
        s"""c$r AS (
           |  SELECT a.m, a.code, f.si,
           |         CAST(floor(CAST(SUM(f.qi) AS DOUBLE) / COUNT(*))
           |              AS BIGINT) AS cv
           |  FROM a$r a JOIN sflat f ON f.vec_id = a.vec_id
           |       AND f.m = a.m
           |  GROUP BY 1, 2, 3),
           |""".stripMargin
    }
    val fin = iters + 1
    blocks.toString +
      s"""lut AS (
         |  SELECT f.vec_id AS q_id, c.m, c.code,
         |         CAST(SUM(f.qi * c.cv) AS BIGINT) AS ldot
         |  FROM sflat f JOIN c$iters c ON c.m = f.m AND c.si = f.si
         |  WHERE f.vec_id < $NumQueryVecs GROUP BY 1, 2, 3),
         |qn2f AS (SELECT vec_id, CAST(SUM(sn2) AS BIGINT) AS qn2
         |        FROM ssn2 GROUP BY 1),
         |spq AS (
         |  SELECT l.q_id, t.vec_id AS t_id,
         |         CAST(SUM(l.ldot) AS BIGINT) AS adc,
         |         CAST(SUM(cn.cn2) AS BIGINT) AS tn2
         |  FROM a$fin t JOIN lut l ON l.m = t.m AND l.code = t.code
         |       JOIN c${iters}n cn ON cn.m = t.m AND cn.code = t.code
         |  WHERE t.vec_id <> l.q_id GROUP BY 1, 2),
         |spqs AS (
         |  SELECT s.q_id, s.t_id,
         |         CAST(s.adc AS DOUBLE) /
         |           sqrt(CAST(q2.qn2 AS DOUBLE) * CAST(s.tn2 AS DOUBLE))
         |           AS cos_pq
         |  FROM spq s JOIN qn2f q2 ON q2.vec_id = s.q_id),
         |rpq AS (SELECT *, row_number() OVER (
         |          PARTITION BY q_id ORDER BY cos_pq DESC, t_id ASC)
         |          AS rank FROM spqs)""".stripMargin
  }

  /** BPE learn chain shared by ext111/ext112: word-frequency table,
    * character state s0, three unrolled merge rounds (pair counts t$r,
    * run-parity merge, renumbered states s$r). A complete WITH clause
    * ending at s3 — append `,` + more CTEs or a SELECT. */
  lazy val bpeCtes: String = {
    val rounds = (1 to 3).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS (
         |  SELECT x.word, x.cnt, x.pos, x.sym AS a, y.sym AS b
         |  FROM $prev x JOIN $prev y
         |    ON y.word = x.word AND y.pos = x.pos + 1),
         |t$r AS (
         |  SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pair_count
         |  FROM p$r GROUP BY 1, 2
         |  ORDER BY pair_count DESC, a ASC, b ASC LIMIT 1),
         |m$r AS (
         |  SELECT p.word, p.pos FROM p$r p
         |  JOIN t$r t ON t.a = p.a AND t.b = p.b),
         |o$r AS (
         |  SELECT word, pos, row_number() OVER (
         |    PARTITION BY word, pos - rn ORDER BY pos) - 1 AS off
         |  FROM (SELECT word, pos, row_number() OVER (
         |          PARTITION BY word ORDER BY pos) AS rn FROM m$r)),
         |mg$r AS (SELECT word, pos FROM o$r WHERE off % 2 = 0),
         |s$r AS (
         |  SELECT s.word, s.cnt,
         |         row_number() OVER (PARTITION BY s.word
         |           ORDER BY s.pos) AS pos,
         |         CASE WHEN x.pos IS NOT NULL THEN t.a || t.b
         |              ELSE s.sym END AS sym
         |  FROM $prev s
         |  LEFT JOIN mg$r x ON x.word = s.word AND x.pos = s.pos
         |  LEFT JOIN mg$r y ON y.word = s.word AND y.pos = s.pos - 1
         |  CROSS JOIN t$r t
         |  WHERE y.pos IS NULL)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (
       |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
       |        FROM documents) GROUP BY 1),
       |s0 AS (
       |  SELECT word, cnt, i AS pos, substr(word, i, 1) AS sym
       |  FROM w JOIN range(1, ${TextOps.BpeMaxWordLen + 1}) r(i)
       |    ON i <= length(word)),
       |$rounds""".stripMargin
  }

  /** Shared tail of the recall-audit oracles (ext54/57/58): left-join
    * `truth` to `cand` on the pair key, then the quantized 3-scalar
    * summary [[graft.ops.Dedup.pairRecall]] computes. */
  val recallTailSql =
    """m AS (
      |  SELECT CASE WHEN c.t_id IS NULL THEN NULL ELSE 1 END AS hit
      |  FROM truth t LEFT JOIN cand c
      |    ON t.q_id = c.q_id AND t.t_id = c.t_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_true,
      |       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_detected,
      |       CAST(COALESCE(floor(1000000.0 * (CAST(SUM(hit) AS DOUBLE)
      |            / CAST(count(*) AS DOUBLE))), 0) AS BIGINT)
      |         AS recall_q
      |FROM m""".stripMargin

  /** truth + cand CTE chain shared by the LSH recall (ext54) and
    * precision (ext61) audits: exact bounded-Jaccard truth at 0.5 and
    * the banded MinHash candidate set, both off ONE shingle relation —
    * only the summary tail (which side left-joins which) differs. */
  lazy val lshDetectorCtes =
    s"""$ShingleSql,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b USING (h)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |truth AS (
       |  SELECT id_a, id_b
       |  FROM inter JOIN sizes na ON na.doc_id = id_a
       |             JOIN sizes nb ON nb.doc_id = id_b
       |  WHERE CAST(n_inter AS DOUBLE) /
       |          CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.5),
       |sig AS (
       |  SELECT doc_id,
       |         $minhashMinsSql
       |  FROM sh GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, b.band_id,
       |         CASE b.band_id $bandSigSql END AS band_sig
       |  FROM sig, (VALUES (0), (1), (2), (3)) b(band_id)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
       |  FROM bands a JOIN bands b2 USING (band_id, band_sig)
       |  WHERE a.doc_id < b2.doc_id)""".stripMargin

  /** The ext37 wide-simhash chain as bare CTE blocks (th → h → votes →
    * sh2 → chunks → candidate pairs `p`), shared by the ext37 pair
    * listing and the ext65 cross-family recall audit. */
  lazy val simhashWideCtes =
    s"""th AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |h2 AS (SELECT doc_id,
       |        ${hashSql("'w0:' || tok")} AS ha,
       |        ${hashSql("'w1:' || tok")} AS hb
       |      FROM th),
       |votes AS (
       |  SELECT doc_id, i,
       |         SUM(CAST(2 * ((CASE WHEN i < 30
       |               THEN ha >> CAST(i AS INTEGER)
       |               ELSE hb >> CAST(i - 30 AS INTEGER) END) & 1) - 1
       |             AS BIGINT)) AS vote
       |  FROM h2, range(60) r(i) GROUP BY 1, 2),
       |sh2 AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN vote > 0
       |           THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
       |           ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY 1),
       |chunks AS (
       |  SELECT doc_id, simhash, c.chunk_id,
       |         (simhash >> CAST(c.chunk_id * 15 AS INTEGER)) & 32767
       |           AS chunk
       |  FROM sh2, range(4) c(chunk_id)),
       |p AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         a.simhash AS sa, b.simhash AS sb
       |  FROM chunks a JOIN chunks b USING (chunk_id, chunk)
       |  WHERE a.doc_id < b.doc_id)""".stripMargin

  /** One row of the ext58 probe-recall curve: [[recallTailSql]]'s
    * 3-scalar summary against `cand$p`, tagged with the probe count. */
  def probeRecallRowSql(p: Int): String =
    s"""SELECT CAST($p AS BIGINT) AS probes,
       |       CAST(count(*) AS BIGINT) AS n_true,
       |       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_detected,
       |       CAST(COALESCE(floor(1000000.0 * (CAST(SUM(hit) AS DOUBLE)
       |            / CAST(count(*) AS DOUBLE))), 0) AS BIGINT)
       |         AS recall_q
       |FROM (SELECT CASE WHEN c.t_id IS NULL THEN NULL ELSE 1 END AS hit
       |      FROM truth t LEFT JOIN cand$p c
       |        ON t.q_id = c.q_id AND t.t_id = c.t_id) m$p""".stripMargin

  val stopList = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
  def markerList(lang: String) =
    TextOps.LangMarkers(lang).map(s => s"'$s'").mkString(", ")

  /** The margin CTE chain, name-prefixed so ext147 can run TWO
    * instances (exact + bucket-capped) in one WITH: dots/rank/
    * fold-mean/margin over the parity split, candidate pairs
    * restricted by `extraJoin` (inserted into the dot join's FROM) and
    * `bucketPred` (ANDed into its WHERE). Assumes QuantFlatSql's
    * `flat`/`n2` are in scope; leaves `{p}kept(a_id, b_id, fwd_rank,
    * cos, margin_ppm)` — the positive-neighborhood guard (a_knn +
    * b_knn > 0) mirrors [[graft.ops.Similarity.marginFromRanked]]. */
  def marginCtes(p: String, extraJoin: String,
      bucketPred: String): String = {
      val k = graft.ops.Similarity.MarginK
      val foldMean =
        (1 to k).map(i => s"max(CASE WHEN rn = $i THEN cos END)")
          .reduceLeft((a, b) => s"($a + $b)") + s" / $k.0"
      s"""${p}dots AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |         CAST(SUM(a.qi * b.qi) AS BIGINT) AS dot
         |  FROM flat a JOIN flat b ON a.i = b.i
         |  $extraJoin
         |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1 $bucketPred
         |  GROUP BY 1, 2),
         |${p}sc AS (
         |  SELECT a_id, b_id,
         |         CAST(dot AS DOUBLE) /
         |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         |           AS cos
         |  FROM ${p}dots JOIN n2 na ON na.vec_id = a_id
         |             JOIN n2 nb ON nb.vec_id = b_id),
         |${p}f AS (SELECT *, row_number() OVER (
         |         PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn
         |       FROM ${p}sc),
         |${p}b AS (SELECT *, row_number() OVER (
         |         PARTITION BY b_id ORDER BY cos DESC, a_id) AS rn
         |       FROM ${p}sc),
         |${p}aa AS (SELECT a_id, $foldMean AS a_knn
         |        FROM ${p}f WHERE rn <= $k GROUP BY 1),
         |${p}bb AS (SELECT b_id, $foldMean AS b_knn
         |        FROM ${p}b WHERE rn <= $k GROUP BY 1),
         |${p}kept AS (
         |  SELECT mf.a_id, mf.b_id, CAST(mf.rn AS BIGINT) AS fwd_rank,
         |         mf.cos,
         |         CAST(floor(((mf.cos + mf.cos) / (maa.a_knn + mbb.b_knn))
         |                    * 1000000.0) AS BIGINT) AS margin_ppm
         |  FROM ${p}f mf JOIN ${p}aa maa USING (a_id)
         |       JOIN ${p}bb mbb USING (b_id)
         |  WHERE mf.rn <= $k
         |    AND (maa.a_knn + mbb.b_knn) > 0
         |    AND CAST(floor(((mf.cos + mf.cos) / (maa.a_knn + mbb.b_knn))
         |                   * 1000000.0) AS BIGINT)
         |        >= ${graft.ops.Similarity.MarginThresholdPpm})""".stripMargin
  }

  /** The ext137/ext146 margin oracle: [[marginCtes]] with `bucketPred`
    * restricting candidate pairs (empty = exact; label equality = the
    * IVF form). */
  def marginMineSql(bucketPred: String): String =
    s"""$QuantFlatSql,
       |${marginCtes("m", "", bucketPred)}
       |SELECT a_id, b_id, fwd_rank, cos, margin_ppm
       |FROM mkept ORDER BY a_id, b_id""".stripMargin

  /** Force every CTE in an assembled oracle to DuckDB's MATERIALIZED
    * evaluation — a pure evaluation-strategy hint (identical rows,
    * spot-verified at sf0.001 AND sf0.01 against the uninlined form).
    * The rebalance chain ([[rebalanceCtes]]) references its upstream
    * kmeans CTEs enough times that DuckDB's default CTE inlining
    * re-evaluates the whole Lloyd's chain per reference — measured
    * 1250 s → 0.5 s at sf0.001 (the cost was plan blow-up, not data:
    * sf0.01 read the SAME ~18 min before this). Matches only CTE
    * definitions (`name AS (`) — subquery/table aliases never carry
    * `AS (` in these oracles. */
  def materializeCtes(sql: String): String =
    sql.replaceAll("([a-z_0-9]+ AS) \\(", "$1 MATERIALIZED (")

  /** The ext124 rebalanced-assignment CTE chain (kmeans argmin →
    * mean-size cap → within-bucket split → composite ids), shared by
    * the ext124 card and the ext147 recall audit; leaves
    * `reb(vec_id, bucket)`. Assumes QuantFlatSql's CTEs in scope. */
  def rebalanceCtes: String =
    s"""${kmeansCtes(8, 2)},
       |b AS (SELECT cid AS bucket, count(*) AS cnt FROM a3 GROUP BY 1),
       |cap AS (SELECT CAST(SUM(cnt) // COUNT(*) AS BIGINT) AS cap FROM b),
       |over AS (SELECT bucket FROM b, cap WHERE cnt > cap.cap),
       |mem AS (SELECT a.vec_id, a.cid AS bucket
       |        FROM a3 a JOIN over o ON o.bucket = a.cid),
       |${bucketSplitCtes(2, 2)},
       |childrank AS (
       |  SELECT bucket, ccid,
       |         CAST(row_number() OVER (
       |           PARTITION BY bucket ORDER BY ccid) - 1 AS BIGINT)
       |           AS child
       |  FROM (SELECT DISTINCT bucket, ccid FROM sc2)),
       |splitasn AS (
       |  SELECT a.vec_id, a.bucket * 2 + c.child AS bucket
       |  FROM sa3 a JOIN childrank c ON c.bucket = a.bucket
       |       AND c.ccid = a.ccid),
       |keptasn AS (
       |  SELECT a.vec_id, a.cid * 2 AS bucket FROM a3 a
       |  WHERE a.cid NOT IN (SELECT bucket FROM over)),
       |reb AS (SELECT * FROM splitasn UNION ALL SELECT * FROM keptasn)"""
      .stripMargin
}
