package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.Windows
import graft.ingest.Tables
import graft.ops.{AsOf, Components, Curation, Decay, Dedup, Hashing,
  IntervalJoin, Multimodal, Packing, Sampling, Similarity, Sketches,
  Skew, Splits, TextOps}

/**
 * Training-data-pipeline extension queries (SURVEY.md §7.1 M6): dedup,
 * similarity search, text analysis, multimodal plumbing — each with a
 * DuckDB oracle twin where the math is portable (all hashing goes through
 * the md5-based scheme of [[graft.ops.Hashing]]; all float math is either
 * exact integer/decimal or a fixed-order IEEE expression).
 */
object ExtEntry {

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def embs(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** Query-vector subset for similarity search examples. */
  private val NumQueryVecs = 20

  /** ext172's token budget — interpolated into the oracle, so both
    * engines read the same constant. ~37% of the sf0.01 corpus mass:
    * the selection is non-trivial in both directions (real docs
    * admitted AND rejected, a partially-admitted boundary class). */
  private val BudgetSelectTokens = 10000L

  /** ext173's per-stratum token budget (interpolated into the oracle).
    * sf0.01 per-lang masses run 3.5k–11.8k tokens, so 2500 keeps every
    * lang's cut PARTIAL — docs admitted and rejected in each stratum,
    * a non-trivially-cut boundary class per lang. */
  private val StratumBudgetTokens = 2500L

  /** ext175's global budget over the cap-stage survivors. The sf0.01
    * caps (2500/lang, [[StratumBudgetTokens]]) leave 12426 surviving
    * tokens, so 8000 cuts the survivor set again — both levels
    * non-trivial. */
  private val TwoLevelGlobalTokens = 8000L

  /** ext174's budget ladder (interpolated into the oracle): spans the
    * three regimes at sf0.01 — a tight cut (~9% of corpus mass),
    * ext172's budget (the curves must agree with its card), and an
    * oversized budget exercising the whole-fit branch. */
  private val FillCurveBudgets = Seq(2500L, 10000L, 40000L)

  /** ext176's per-stratum budget ladder. sf0.01 per-lang masses run
    * 3.5k–11.8k tokens, so the rungs span the three regimes INSIDE
    * every lang: 800 = tight cut everywhere, [[StratumBudgetTokens]]
    * = ext173's partial cut (those curve rows must agree with its
    * cards), 20000 = whole-fit everywhere (threshold = smin−1). */
  private val StratumFillBudgets = Seq(800L, StratumBudgetTokens, 20000L)

  /** ext126's packing context length — interpolated into the oracle so
    * a change here cannot silently diverge the two engines. */
  private val CurationCtx = 512L

  /** Deterministic PII plant for ext128 — one instance of each scrub
    * pattern class (email whose local part carries a 10-digit run the
    * `email` stage consumes before `idnum` looks, phone, ipv4, bare id
    * number), appended identically by both engines. */
  private val PiiPlantSuffix =
    " reach u9123456789@ex4.com or +12345678901 via 10.0.0.1 acct 987654321"

  /** Probe counts the ext58 recall curve prices (must stay <= the index's
    * maxProbes below and <= k=8). */
  private val ProbeCurve = Seq(1, 2, 4)

  /** The one quality-score rule the whole budget-select family keys
    * on (ext172-179): its seven call sites must stay byte-identical
    * for the cross-query consistency rungs (ext177's shared rung ==
    * ext175's card, etc.) to keep holding —
    * one constant removes the drift surface (r18 review). The DuckDB
    * oracle strings keep their literal copies by design (an oracle
    * must not read the engine's definition).  */
  private val ScorePpmExpr =
    "least(n_words * 10000, 1000000) DIV 2" +
      " + (n_stop * 1000000 DIV n_words) DIV 2"

  /** Total token budget the ext62 ledger plans against (SF-independent:
    * the ledger's shape, not the budget, is what's under test). */
  private val TokenBudget = 10000000L

  /** The build-once IVF probe index shared by ext28/31/57/58 — one
    * Lloyd's build per (session, sfdir), then every consumer reads the
    * cached (vec_id, bucket, probe_rank) checkpoint
    * ([[graft.ops.Similarity.kmeansProbeIndex]]). */
  private def ivfProbeIndex(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansProbeIndex(embs(s, dir), cacheKey = dir,
      maxProbes = ProbeCurve.max)

  /** The plain argmin bucket assignment (== kmeansBuckets bit-exactly)
    * read off the shared probe index. */
  private def ivfBuckets(s: SparkSession, dir: String): DataFrame =
    ivfProbeIndex(s, dir).filter(col("probe_rank") === 1)
      .select("vec_id", "bucket")

  /** Build-once REBALANCED assignment (ext124's statistic: mean-size
    * cap over the shared argmin buckets, one split level) — the stored
    * layout artifact the ext124 card and the ext147 recall audit both
    * read, exactly as production rebalances once per corpus snapshot
    * and every same-bucket consumer takes the assignment unchanged. */
  private def rebBuckets(s: SparkSession, dir: String): DataFrame =
    graft.ops.Reuse.index(s, s"reb-buckets:$dir") {
      val bk = ivfBuckets(s, dir)
      val st = bk.groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("nb"), sum("cnt").as("nv")).head()
      Similarity.splitOversizedBuckets(embs(s, dir), bk,
        st.getLong(1) / st.getLong(0))
    }

  /** Build-once maximal-span listing shared by ext125/ext127 — the
    * stored curator artifact; the histogram is a derived view
    * ([[graft.ops.Dedup.dupSpanHistogramFrom]]). */
  private def dupSpansIdx(s: SparkSession, dir: String): DataFrame =
    graft.ops.Reuse.index(s, s"dup-spans:$dir") {
      Dedup.dupSpans(docs(s, dir))
    }

  /** Build-once PQ codebooks shared by ext107/108/117/118 — one
    * m-keyed Lloyd's build per (session, sfdir), like [[ivfProbeIndex]]
    * ([[graft.ops.Similarity.pqCodebooksIndex]]). */
  private def pqCb(s: SparkSession, dir: String): Option[DataFrame] =
    Some(Similarity.pqCodebooksIndex(embs(s, dir), cacheKey = dir))

  /** Build-once PQ codes / bucket-tagged coded corpus (r18) — the
    * stored serving artifacts the PQ consumers scan instead of
    * re-encoding the corpus per query. */
  private def pqCodesIdx(s: SparkSession, dir: String): Option[DataFrame] =
    Some(Similarity.pqCodesIndex(embs(s, dir),
      Similarity.pqCodebooksIndex(embs(s, dir), cacheKey = dir),
      cacheKey = dir))
  private def pqCodedIdx(s: SparkSession, dir: String): Option[DataFrame] =
    Some(Similarity.ivfPqCodedCorpusIndex(embs(s, dir),
      Similarity.pqCodebooksIndex(embs(s, dir), cacheKey = dir),
      ivfProbeIndex(s, dir), cacheKey = dir))

  /** Rebuild the PQ ENCODE artifacts from cold — the bench's explicit
    * index-build pricing (r18 verdict: with `pqCodesIndex`/
    * `ivfPqCodedCorpusIndex` stored once per session, the corpus-encode
    * cost landed inside whichever consumer ran first and min-of-two
    * discarded it, so no number priced the encode). Drops the two
    * encode artifacts, rebuilds them (codebooks / coarse quantizer stay
    * memoized — they have their own precedented lifecycle), and forces
    * materialization. Returns the coded-corpus row count. */
  private[graft] def rebuildPqEncodeIndexes(s: SparkSession,
      dir: String): Long = {
    graft.ops.Reuse.dropIndex(s, s"pq-coded:$dir")
    graft.ops.Reuse.dropIndex(s, s"pq-codes:$dir")
    pqCodesIdx(s, dir).get.count()
    pqCodedIdx(s, dir).get.count()
  }

  /** Build-once BPE merge table shared by ext111/ext112 — THE stored
    * tokenizer artifact: learned once per (session, sfdir), the audit
    * replays it ([[graft.ops.TextOps.bpeEstimateAuditFrom]]) exactly
    * as the serving/streaming side does. */
  private def bpeMergesIdx(s: SparkSession, dir: String): DataFrame =
    graft.ops.Reuse.index(s, s"bpe-merges:$dir") {
      TextOps.bpeMerges(docs(s, dir), 3)
    }

  /** Build-once exact ANN ground truth for the fixed query set — the
    * stored audit artifact both IVF recall audits (ext57/58) score
    * against; brute-force over the corpus runs ONCE per (session, sf). */
  private def annTruth(s: SparkSession, dir: String): DataFrame =
    graft.ops.Reuse.index(s, s"ann-truth:$dir") {
      val e = embs(s, dir)
      Similarity.bruteTopK(e, e.filter(col("vec_id") < NumQueryVecs), 3)
        .select(col("q_id").as("id_a"), col("t_id").as("id_b"))
    }

  /** Build-once near-dup cluster map (doc_id, cluster_id) — THE stored
    * dedup artifact of a corpus snapshot: the LSH pair graph and the
    * iterative connected components run ONCE per (session, sf); keeper
    * selection (ext47), leakage-safe splitting (ext51), the cluster
    * listing (ext27) and the dedup impact report (ext64) all read it. */
  private def dupClusters(s: SparkSession, dir: String): DataFrame =
    graft.ops.Reuse.index(s, s"dup-clusters:$dir") {
      Components.connectedComponents(lshPairsIdx(s, dir))
        .select(col("id").as("doc_id"), col("cluster_id"))
    }

  /** Build-once full-corpus LSH candidate pair set — the stored dedup
    * pair relation (r18): the cluster map build and the cross-detector
    * agreement audit (ext100) both read it instead of re-running the
    * MinHash/banding pass per query. */
  private def lshPairsIdx(s: SparkSession, dir: String): DataFrame =
    graft.ops.Reuse.index(s, s"lsh-pairs:$dir") {
      Dedup.minhashLsh(docs(s, dir)).select("id_a", "id_b")
    }

  /** Build-once LSH audit artifact shared by the recall (ext54) and
    * precision (ext61) summaries: ONE shingle pass feeds both the exact
    * bounded-Jaccard truth and the banded MinHash candidates; the two
    * pair sets are checkpointed as one tagged relation — production
    * computes an audit run once and reads every metric off it. */
  /** Build-once capped shingle-group relation (h, bounded distinct doc
    * list) — THE stored shingle pass of a corpus snapshot (r19): the
    * containment audit (ext113), the band-plan card (ext149) and the
    * audit-pair build below all read it instead of re-exploding and
    * re-hashing the corpus per query. ext02 keeps building the same
    * relation from scratch, so the shingle pass stays priced by one
    * query every run (the ext03-prices-the-LSH-build discipline). */
  private def shingleGroupsIdx(s: SparkSession, dir: String): DataFrame =
    graft.ops.Reuse.index(s, s"shingle-groups:$dir") {
      Dedup.shingleGroups(docs(s, dir), "doc_id", "text",
        materialize = false)
    }

  /** Build-once banded signature table of the ESTABLISHED corpus (the
    * doc_id % 10 >= 2 generation ext36 dedups increments against) —
    * ext36's own scaladoc already states the semantics: "signatures are
    * computed once per corpus generation and persisted; the corpus text
    * is never re-shingled". The full-corpus MinHash build stays priced
    * by ext03 every run. */
  private def corpusBandsIdx(s: SparkSession, dir: String): DataFrame =
    graft.ops.Reuse.index(s, s"corpus-bands:$dir") {
      Dedup.bandedSignatures(Dedup.minhashSignatures(
        docs(s, dir).filter(col("doc_id") % 10 >= 2)))
    }

  private def lshAuditPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Reuse.index(s, s"lsh-audit:$dir") {
      val g = shingleGroupsIdx(s, dir)
      val sig = graft.ops.Reuse.shared(Dedup.minhashSignaturesFromGroups(g))
      Dedup.ngramJaccardFromGroups(g, threshold = 0.5)
        .select("id_a", "id_b").withColumn("rel", lit("truth"))
        .unionByName(Dedup.minhashLshFromSig(sig)
          .select("id_a", "id_b").withColumn("rel", lit("cand")))
    }

  // ---- shared DuckDB fragments ------------------------------------------

  private val P = Hashing.Mersenne31

  private def hashSql(e: String) = Hashing.portableHash32Sql(e)

  /** Span-surgery CTE chain over relation `src`(doc_id, text, ...),
    * name-prefixed so the ext126 pipeline can chain two surgeries:
    * rep = within-doc (cut repeats of a (doc, h)-first occurrence,
    * ext123's math), else cross-doc (cut occurrences whose h has a
    * lower-id keeper, ext96's math). Leaves `{p}out(doc_id,
    * clean_text)`. */
  private def surgerySqlCtes(src: String, p: String,
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
  private def shingleCtes(src: String, sfx: String = "") =
    s"""toks$sfx AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $src),
       |sh0$sfx AS (
       |  SELECT DISTINCT doc_id,
       |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
       |  FROM toks$sfx JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
       |hot$sfx AS (SELECT h FROM sh0$sfx GROUP BY h HAVING count(*) > 50),
       |sh$sfx AS (SELECT * FROM sh0$sfx ANTI JOIN hot$sfx USING (h))""".stripMargin

  private val ShingleSql = "WITH " + shingleCtes("documents")

  private val minhashMinsSql = (0 until Dedup.NumHashes).map { j =>
    s"min((h * ${Hashing.seedA(j)} + ${Hashing.seedB(j)}) % $P) AS mh$j"
  }.mkString(",\n         ")

  private val bandSigSql = (0 until Dedup.NumHashes / Dedup.BandRows).map {
    b =>
      val parts = (0 until Dedup.BandRows)
        .map(r => s"CAST(mh${b * Dedup.BandRows + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"WHEN ${b} THEN $parts"
  }.mkString(" ")

  private val eqCountSql = (0 until Dedup.NumHashes)
    .map(j => s"CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** Shared recursive-CTE chain: shingles → MinHash signatures → LSH
    * bands → candidate pairs → transitive closure (`reach`). Used by
    * the ext27 clusters oracle and the ext47 keeper oracle (must stay
    * identical between them — both mirror Components over minhashLsh). */
  private lazy val clusterCtes =
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
  private def kmeansSql(k: Int, iters: Int): String =
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
  private def kmeansCtes(k: Int, iters: Int, pfx: String = ""): String = {
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
  private def bucketSplitCtes(split: Int, iters: Int): String = {
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
  private val QuantFlatSql =
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
  private def cosTopKCtes(sfx: String, bucketJoin: String,
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
  private lazy val lshSigCtes =
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
  private val lshBucketJoin =
    """JOIN sigs sa ON sa.vec_id = a.vec_id
      |       JOIN sigs sb ON sb.vec_id = b.vec_id AND sb.sig = sa.sig"""
      .stripMargin

  private def cosTopKSql(bucketJoin: String, k: Int,
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
  private lazy val pqAdcCtes: String = {
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
  private lazy val bpeCtes: String = {
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
  private val recallTailSql =
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
  private lazy val lshDetectorCtes =
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
  private lazy val simhashWideCtes =
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
  private def probeRecallRowSql(p: Int): String =
    s"""SELECT CAST($p AS BIGINT) AS probes,
       |       CAST(count(*) AS BIGINT) AS n_true,
       |       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_detected,
       |       CAST(COALESCE(floor(1000000.0 * (CAST(SUM(hit) AS DOUBLE)
       |            / CAST(count(*) AS DOUBLE))), 0) AS BIGINT)
       |         AS recall_q
       |FROM (SELECT CASE WHEN c.t_id IS NULL THEN NULL ELSE 1 END AS hit
       |      FROM truth t LEFT JOIN cand$p c
       |        ON t.q_id = c.q_id AND t.t_id = c.t_id) m$p""".stripMargin

  private val stopList = TextOps.Stopwords.map(s => s"'$s'").mkString(", ")
  private def markerList(lang: String) =
    TextOps.LangMarkers(lang).map(s => s"'$s'").mkString(", ")

  /**
   * Seed the bucketed lineitem/orders layout for `dir` if absent (table
   * names and paths are derived per scale-factor dir, so different SFs —
   * or the Bench warmup at sf0.001 racing the timed sf0.1 run — never
   * clobber each other's definitions). Returns (lineitemTable,
   * ordersTable). Idempotent: re-invocations verify both the catalog
   * entry and the on-disk files, then skip the write — the pay-once
   * layout cost is NOT charged to every query over the table.
   */
  def ensureBucketed(s: SparkSession, dir: String): (String, String) =
    synchronized {
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val (li, ord) = (s"graft_li_b_$tag", s"graft_ord_b_$tag")
      val base = s"/tmp/graft_bucketed/$tag"
      // Cross-process exclusion: the object-level synchronized only
      // covers this JVM; a Bench and a test JVM seeding the same tag
      // concurrently would interleave the table rewrite and the stamp.
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base))
      val lockCh = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(s"$base/.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lock = lockCh.lock()
      try ensureBucketedLocked(s, dir, li, ord, base)
      finally { lock.release(); lockCh.close() }
    }

  private def ensureBucketedLocked(s: SparkSession, dir: String,
      li: String, ord: String, base: String): (String, String) = {
      // Freshness stamp: the source files' mtimes at write time. A layout
      // built from since-regenerated source parquet is stale, not
      // "present" — without this a long-lived session would keep serving
      // the old copy after the data under `dir` changed.
      val stamp = Seq(s"$dir/lineitem.parquet", s"$dir/orders.parquet")
        .map(f => new java.io.File(f).lastModified()).mkString(",")
      val stampFile = java.nio.file.Paths.get(s"$base/.source_stamp")
      val present = s.catalog.tableExists(li) && s.catalog.tableExists(ord) &&
        new java.io.File(s"$base/li/_SUCCESS").exists() &&
        new java.io.File(s"$base/ord/_SUCCESS").exists() &&
        java.nio.file.Files.exists(stampFile) &&
        java.nio.file.Files.readString(stampFile) == stamp
      if (!present) {
        graft.sources.BucketedTables.writeBucketed(Tables.lineitem(s, dir),
          li, s"$base/li", "l_orderkey", 8)
        graft.sources.BucketedTables.writeBucketed(Tables.orders(s, dir),
          ord, s"$base/ord", "o_orderkey", 8)
        java.nio.file.Files.writeString(stampFile, stamp)
      }
      (li, ord)
    }

  // ---- queries -----------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ext01_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir)).orderBy("content_hash")),

    "ext02_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(docs(s, dir)).orderBy("id_a", "id_b")),

    "ext03_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(docs(s, dir)).orderBy("id_a", "id_b")),

    "ext04_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir)).orderBy("id_a", "id_b")),

    // Production-width simhash: 60-bit signature, 4x15-bit chunk
    // buckets (32768 per chunk vs ext04's 256) — the corpus-scale form
    // whose candidate volume the r6 10x scale smoke put at 0.28 M pairs
    // vs ext04's 8.10 M.
    "ext37_dedup_simhash_wide" -> ((s, dir) =>
      Dedup.simhashPairsWide(docs(s, dir)).orderBy("id_a", "id_b")),

    // End-to-end dedup pipeline: detector pairs -> kept corpus
    // (min-id representative survives each near-dup pair).
    // Pairs come from the stored LSH audit artifact's candidate side
    // (== Dedup.minhashLsh on the same corpus by construction) — the
    // detector runs once per snapshot, every consumer reads it (r9;
    // the dupClusters/pqCodebooksIndex lifecycle for the raw pairs).
    "ext14_dedup_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.keepRepresentatives(d,
          lshAuditPairs(s, dir).filter(col("rel") === "cand")
            .select("id_a", "id_b"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    "ext05_sim_brute_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteTopK(e, e.filter(col("vec_id") < NumQueryVecs), 5)
        .orderBy("q_id", "rank")
    }),

    // Hard-negative mining: per query the top-5 most-similar vectors
    // BELOW the near-dup threshold — dedup-aware negative sampling for
    // contrastive training (negatives above the threshold are latent
    // positives and would poison the loss).
    "ext49_hard_negatives" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.hardNegatives(e, e.filter(col("vec_id") < NumQueryVecs), 5)
        .orderBy("q_id", "rank")
    }),

    "ext06_sim_ivf_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < NumQueryVecs), 3)
        .orderBy("q_id", "rank")
    }),

    // LSH-bucketed ANN — scale path; no oracle (rows-only check).
    "ext07_sim_lsh_ann" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < NumQueryVecs), 5)
        .orderBy("q_id", "rank")
    }),

    // LSH-ANN recall vs the stored exact truth: the last approximate
    // path without a priced recall (IVF has ext57/58, the dedup
    // detectors ext54/61/65/70). Reads the build-once brute-force
    // truth artifact; candidates = the ext07 signature buckets ranked
    // to the same k.
    "ext88_lsh_ann_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val cand = Similarity.lshTopK(
          e, e.filter(col("vec_id") < NumQueryVecs), 3)
        .select(col("q_id").as("id_a"), col("t_id").as("id_b"))
      Dedup.pairRecall(annTruth(s, dir), cand)
    }),

    // The kNN label audit's AT-SCALE path, priced: votesFor accepts any
    // neighbor relation, and at 100 TB the neighbors come from the IVF
    // probe index, not the brute scan — so run both audits side by side
    // and measure how often the cheap path reaches the brute audit's
    // verdict (majority-label agreement over all audited vectors, and
    // recall of the brute-flagged mislabels). The last approximate path
    // without a measured number (ext54/57/58/61/65/70/88 price the
    // others). One brute ranking (the stored-truth shape), one
    // bucket-restricted ranking off the shared build-once probe index.
    "ext89_knn_audit_probe" -> ((s, dir) => {
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
    }),

    // Embedding-cosine near-dup: banded random-hyperplane LSH candidates,
    // exact quantized cosine verify — the embedding-space member of the
    // dedup family (text-space: ext02/03/04).
    "ext16_dedup_embed_cosine" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(embs(s, dir))
        .orderBy("id_a", "id_b")),

    // The end-to-end corpus-curation composition: language filter →
    // quality floor → near-dup removal → kept corpus summary. This is the
    // pipeline a 100 TB pretraining-data run strings together from the
    // pieces above.
    "ext15_corpus_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      val scored = TextOps.quality(TextOps.langScores(d))
      // The filtered corpus feeds BOTH the detector (minhashLsh) and
      // the keeper anti-join — without materialization the whole
      // langid+quality scoring scan plans (and runs) twice (r19;
      // guide §2.4: two consumers, one pass).
      val filtered = graft.ops.Reuse.shared(scored
        .filter(col("predicted") === "en" && col("quality_score") >= 0.4)
        .select("doc_id", "text", "lang", "source"))
      val kept = Dedup.keepRepresentatives(
        filtered, Dedup.minhashLsh(filtered))
      kept.groupBy("lang", "source")
        .agg(count("*").as("kept_docs"),
          min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
        .orderBy("lang", "source")
    }),

    "ext08_text_langid" -> ((s, dir) =>
      TextOps.langScores(docs(s, dir))
        .select("doc_id", "score_en", "score_es", "score_zh", "predicted")
        .orderBy("doc_id")),

    "ext09_text_quality" -> ((s, dir) =>
      TextOps.quality(docs(s, dir))
        .select("doc_id", "n_words", "n_chars_nospace", "n_stop",
          "stop_ratio", "avg_word_len", "quality_score")
        .orderBy("doc_id")),

    "ext10_text_tokens" -> ((s, dir) =>
      TextOps.tokenCounts(docs(s, dir))
        .select("doc_id", "n_ws_tokens", "n_bpe_est")
        .orderBy("doc_id")),

    "ext11_text_fingerprint" -> ((s, dir) =>
      TextOps.fingerprints(docs(s, dir))
        .select("doc_id", "content_fp", "rolling_fp")
        .orderBy("doc_id")),

    // Gopher-style repetition quality rules: duplicate-2-gram ratio and
    // dominant-token ratio — the "is this boilerplate/spam" filter of a
    // pretraining pipeline, exact integer counts + one double division.
    "ext29_text_repetition" -> ((s, dir) =>
      TextOps.repetition(docs(s, dir))
        .select("doc_id", "n_2grams", "n_distinct_2grams",
          "dup_2gram_ratio", "top_tok_ratio")
        .orderBy("doc_id")),

    // Gopher-style rule FLAGS (vs ext09's blended score): each quality
    // rule is an auditable 0/1 column and keep is their conjunction —
    // all-integer, stateless codegen projection.
    "ext71_gopher_rules" -> ((s, dir) =>
      TextOps.gopherRules(docs(s, dir))
        .select("doc_id", "n_toks", "mwl_q", "stop_hits",
          "r_len", "r_mwl", "r_stop", "keep")
        .orderBy("doc_id")),

    // Heaps'-law vocabulary growth: distinct/total tokens at doc_id-
    // ordered 10%/50%/100% prefixes — one explode, token-first-doc
    // aggregate, |pcts| output rows.
    "ext72_vocab_growth" -> ((s, dir) =>
      TextOps.vocabGrowth(docs(s, dir)).orderBy("pct")),

    // Zipf head coverage: token mass (ppm) under the top-k tokens for
    // k in {10,100,1000}; head cut via distributed TakeOrdered, rank
    // window only on the <= max(k)-row head.
    "ext73_zipf_head" -> ((s, dir) =>
      TextOps.zipfHeadCoverage(docs(s, dir)).orderBy("k")),

    // Label-contradiction near-dup families: clusters of the stored
    // dedup map carrying >1 lang tag — annotation contamination keeper
    // selection alone would hide (the family dedups to ONE keeper with
    // ONE lang, silently voting). Reads the build-once cluster map.
    "ext74_cross_lang_dup" -> ((s, dir) =>
      Dedup.labelConflicts(dupClusters(s, dir), docs(s, dir))
        .orderBy("cluster_id")),

    // Per-language tokenizer fertility: model-token cost multiplier
    // (bpe-estimate vs whitespace tokens, ppm) per lang.
    "ext75_token_fertility" -> ((s, dir) =>
      TextOps.tokenFertility(docs(s, dir)).orderBy("lang")),

    // kNN label-noise audit (confident-learning style): audited vectors
    // whose k-nearest-neighborhood votes for a different label than
    // their own — candidate mislabels for review/removal.
    "ext76_knn_label_audit" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.ops.LabelAudit.knnLabelAudit(
        e, e.filter(col("vec_id") < NumQueryVecs), 5)
        .orderBy("vec_id")
    }),

    // The same audit under the L2 neighborhood (|q−t|², exact int64
    // end to end — not even the cosine's final double division):
    // clustering-style geometry where vector norms matter, the second
    // standard curation metric beside cosine. The vote/flag tail is
    // metric-blind; only the neighbor ranking changes.
    "ext90_knn_audit_l2" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.ops.LabelAudit.knnLabelAudit(
        e, e.filter(col("vec_id") < NumQueryVecs), 5, metric = "l2")
        .orderBy("vec_id")
    }),

    // Span-level dedup decision signal (Lee et al.'s exact-substring
    // measure): per-doc token positions covered by an n-gram that also
    // occurs in ANOTHER document — position-weighted, hot shingles
    // count (noveltyScores' counterweight: novelty is distinct-shingle
    // and df-capped). min/max-per-hash sharing test, no distinct-count
    // state anywhere.
    "ext91_dup_span_mass" -> ((s, dir) =>
      Dedup.dupSpanMass(docs(s, dir)).orderBy("doc_id")),

    // PII scrub audit card per source: per-pattern hit counts on raw
    // text, docs flagged by any pattern, chars before/after the
    // ordered scrub chain. The synthetic corpus carries no PII, so the
    // hit columns legitimately read zero here — the planted-fixture
    // spec (OpsSpec) carries the behavioral test; the oracle checks
    // the full card (volumes + zero hits + scrub identity) honestly.
    "ext92_pii_audit" -> ((s, dir) =>
      TextOps.piiAudit(docs(s, dir)).orderBy("source")),

    // PII redaction SURGERY (r10 verdict item 3 — the APPLY side of
    // ext92's audit): the ordered scrub chain per document with
    // per-stage applied-redaction counts, reassembled clean text, and
    // before/after lengths. The synthetic corpus carries no PII, so
    // the query PLANTS a deterministic PII suffix on every 7th doc in
    // BOTH engines — the oracle then exercises the real cross-engine
    // redaction chain (nonzero counts, placeholder substitution, the
    // email-consumes-digits ordering), not just the identity path;
    // untouched docs assert the byte-identical pass-through.
    "ext128_pii_redaction" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(PiiPlantSuffix)))
          .otherwise(col("text")))
      TextOps.redactPii(planted).orderBy("doc_id")
    }),

    // Storage-precision pricing: full-precision cosine top-3 vs the
    // int8 re-quantized frame's top-3, as one agreement row (rank-set
    // overlap ppm + mean |cos8 - cos| in nano-units) — the audit that
    // decides whether the vector store ships 1 or 4 bytes/dim.
    "ext93_int8_fidelity" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.int8FidelityAudit(
        e, e.filter(col("vec_id") < NumQueryVecs), 3)
    }),

    // The review queue of WHAT is duplicated: top-20 cross-document
    // n-grams as text, by exact df — ext91 prices how much is
    // duplicated, this lists the offender strings (grouped by the
    // string itself: a 31-bit hash would birthday-merge counts at
    // corpus scale, and the report needs the text anyway).
    "ext94_top_shared_ngrams" -> ((s, dir) =>
      Dedup.topSharedNgrams(docs(s, dir), 20)),

    // MAXIMAL duplicated spans (r9 verdict item 4): the (start, length)
    // intervals ext91 prices in aggregate and ext96 cuts — the
    // curator-inspectable artifact span-length distributions are
    // computed from. Gaps-and-islands over the covered-position
    // relation: island key p − row_number(p) per doc. The listing is a
    // build-once artifact (Reuse.index) — ext127's distribution is a
    // derived view of it, not a second coverage pass.
    "ext125_dup_spans" -> ((s, dir) =>
      dupSpansIdx(s, dir).orderBy("doc_id", "span_start")),

    // The span-length distribution card over ext125's STORED listing —
    // RefinedWeb-style duplicate-span analysis as one row per length.
    "ext127_dup_span_histogram" -> ((s, dir) =>
      Dedup.dupSpanHistogramFrom(dupSpansIdx(s, dir))
        .orderBy("span_len")),

    // Span-level dedup SURGERY: cut every token position covered by
    // an n-gram that also occurs in a lower-id document and reassemble
    // the survivors — exactly one copy of each shared n-gram survives
    // corpus-wide (min-id keeper, the ext14/47 convention). The
    // transformation ext91's signal decides on.
    "ext96_dup_span_surgery" -> ((s, dir) =>
      Dedup.dupSpanSurgery(docs(s, dir)).orderBy("doc_id")),

    // Decontamination surgery: ext96's cross-corpus form — cut every
    // training-doc span covered by a benchmark n-gram (ext32 flags the
    // docs, ext50 locates the spans, this REMOVES them). Benchmark =
    // doc_id < 20 (ext50's stand-in), corpus = the rest; the keeper-id
    // -1 composition means every match cuts.
    "ext97_decontamination_surgery" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminationSurgery(
          d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
        .orderBy("doc_id")
    }),

    // Count-Min heavy-hitter sketch, priced: exact top-20 tokens
    // beside their CMS estimates off the 4-row x 1024-cell counter
    // table, overestimate in ppm. est >= exact always (the one-sided
    // CMS guarantee); the counter table is a broadcast-sized mergeable
    // artifact at any corpus size.
    "ext98_countmin_audit" -> ((s, dir) =>
      Sketches.countMinAccuracyAudit(docs(s, dir), 20)),

    // Cross-detector agreement: MinHash-LSH candidate pairs scored by
    // an INDEPENDENT representation (64-bucket feature-hashed BoW
    // cosine) — the residue (high-shingle, low-BoW pairs) is n-gram
    // coincidence a curator inspects before trusting the pair set.
    "ext100_lexical_agreement" -> ((s, dir) =>
      Dedup.lexicalAgreementAudit(docs(s, dir),
        candidatePairs = Some(lshPairsIdx(s, dir)))),

    // Schema-on-read JSON profile of events.props: one row per
    // top-level key with occurrence + value-type counts — the audit a
    // permissive ingest (OP-04) ships before hardcoding a schema.
    // Regex pair extraction, no JSON parser on the scan.
    "ext99_json_key_profile" -> ((s, dir) =>
      graft.ops.Reporting.jsonKeyProfile(
          Tables.events(s, dir), col("props"))
        .orderBy("key")),

    // Pre-ANN degeneracy audit: per-label vector counts, zero-norm
    // count (zero vectors make cosine NaN — silent ranking poison),
    // and the exact min/max/mean of the quantized norm² — the norm
    // spread is the cosine-vs-dot metric-choice evidence (ext90's
    // knob). Decimal-carried sum: int64 would overflow near 1e5
    // unit-norm vectors.
    "ext95_embedding_norm_audit" -> ((s, dir) =>
      Similarity.normAudit(embs(s, dir)).orderBy("label")),

    // Per-label centroid outliers: the 3 vectors farthest (exact int64
    // distance) from their own label's floor-quantized centroid —
    // embedding-space data pruning / review queue per class.
    "ext77_label_centroid_outliers" -> ((s, dir) =>
      graft.ops.LabelAudit.labelCentroidOutliers(embs(s, dir), 3)
        .orderBy("label", "rank")),

    // Packing-efficiency curve: chunk counts under concat- vs
    // pad-to-boundary packing and the padded waste, per candidate
    // context length — the capacity table behind the ctx choice. One
    // corpus scan, |budgets| output rows.
    "ext78_pack_efficiency" -> ((s, dir) =>
      Packing.packEfficiency(docs(s, dir),
          size(split(col("text"), " ")), Seq(128L, 512L, 1024L))
        .select("ctx", "n_docs", "total_toks", "chunks_padded",
          "chunks_concat", "pad_waste_ppm", "pack_gain_ppm")
        .orderBy("ctx")),

    // Duplication-aware SOFT dedup: per-doc sampling weight
    // 1e6/|family| ppm off the build-once cluster map — near-dup
    // variants stay in the corpus at unduplicated draw pressure
    // (ext47's keeper is the hard-dedup alternative over the same
    // artifact).
    "ext79_dedup_weights" -> ((s, dir) =>
      Dedup.dedupWeights(docs(s, dir), dupClusters(s, dir))
        .orderBy("doc_id")),

    // Per-doc rare-token (OOV-proxy) rate vs the corpus frequency
    // tail: instances of token types under a tenth of the mean type
    // frequency, as ppm of the doc's tokens — the "mostly unseen
    // vocabulary" quality flag, and ext69-novelty's counterweight.
    "ext80_oov_rate" -> ((s, dir) =>
      TextOps.oovRate(docs(s, dir)).orderBy("doc_id")),

    // Corpus snapshot diff (crawl-over-crawl audit): exact-content
    // md5 identity across two snapshots (here the doc_id-parity
    // halves) — the {both, only_a, only_b} distinct-text table that
    // decides incremental ingest vs full re-dedup.
    "ext81_snapshot_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.snapshotDiff(
        d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1))
        .orderBy("status")
    }),

    // Composition drift between the same two snapshots: per-lang doc
    // share (ppm of each side's own total) and the absolute delta —
    // the mix-moved signal raw counts hide when snapshot sizes differ.
    "ext82_composition_drift" -> ((s, dir) =>
      graft.ops.Reporting.compositionDriftBy(docs(s, dir),
          col("doc_id") % 2 === 0, Seq("lang"))
        .orderBy("lang")),

    // Per-label embedding dispersion card: member count, mean/max
    // exact distance² to the label's own centroid, centroid norm² —
    // "which labels are collapsed or incoherent", off the same
    // centroid artifact ext77 ranks vectors with.
    "ext83_label_dispersion" -> ((s, dir) =>
      graft.ops.LabelAudit.labelDispersion(embs(s, dir))
        .orderBy("label")),

    // Per-source Gopher-rule pass rates: which sources fail which
    // rule, at what rate — the "is this feed garbage" triage table a
    // crawl operator reads before pulling a source; one aggregate
    // over ext71's flag projection.
    "ext84_gopher_pass_rates" -> ((s, dir) =>
      TextOps.gopherPassRatesFromCounts(
          TextOps.gopherPassPartials(docs(s, dir)))
        .orderBy("source")),

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
    "ext86_shuffled_packing" -> ((s, dir) => {
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
    }),

    // Contamination rate by split: ext32's benchmark-overlap flags
    // joined onto ext20's split assignment — "did the eval suite leak
    // into train, and how much per split", the audit run before a
    // training job trusts its held-out numbers.
    "ext87_contamination_by_split" -> ((s, dir) => {
      val d = docs(s, dir)
      val ov = Dedup.benchmarkOverlap(
          d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
        .select(col("doc_id"), col("contaminated"))
      Splits.assign(d.filter(col("doc_id") >= 20), col("doc_id"))
        .select(col("doc_id"), col("split"))
        .join(ov, "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("contaminated")).as("n_contaminated"))
        .withColumn("contam_ppm",
          expr("(n_contaminated * 1000000) DIV n_docs"))
        .orderBy("split")
    }),

    "ext85_dedup_token_savings" -> ((s, dir) => {
      // ONE corpus scan: the scored per-doc relation feeds both the
      // family aggregate and the corpus token total.
      val scored = graft.ops.Reuse.shared(TextOps.quality(docs(s, dir))
        .select(col("doc_id"), col("quality_score"),
          col("n_words").as("n_toks")))
      val fams = dupClusters(s, dir).join(scored, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("n_toks")).as("fam_toks"),
          max(struct(col("quality_score").as("q"),
            negate(col("doc_id")).as("nid"),
            col("n_toks").as("kt"))).as("m"))
      val tot = scored.agg(sum(col("n_toks")).as("corpus_toks"))
      // COALESCE the sums: with zero dup clusters the global aggregate
      // still emits one row, and it must read (0, 0, 0, toks, 0) — not
      // NULLs — to match the oracle's identically-guarded scalar form.
      fams.agg(count(lit(1)).as("n_families"),
          coalesce(sum(col("n_members") - 1), lit(0L)).as("docs_removed"),
          coalesce(sum(col("fam_toks") - col("m.kt")), lit(0L))
            .as("tokens_removed"))
        .crossJoin(broadcast(tot))
        .withColumn("savings_ppm",
          expr("(tokens_removed * 1000000) DIV corpus_toks"))
    }),

    "ext12_multimodal_meta" -> ((s, dir) =>
      Multimodal.withBinaryMeta(Multimodal.assetsFromDocuments(docs(s, dir)))
        .select("asset_id", "kind", "n_bytes", "digest", "head_hex")
        .orderBy("asset_id")),

    // Frame-sampling plumbing over binary columns — no oracle.
    "ext13_multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.assetsFromDocuments(docs(s, dir)).filter(
          col("asset_id") < 50))
        .orderBy("asset_id", "frame_no")),

    // Skew-resilient two-phase salted aggregation — result identical to a
    // plain GROUP BY (the oracle IS the plain GROUP BY), but the hot key
    // spreads over 16 reducers in phase 1.
    "ext17_skew_salted" -> ((s, dir) =>
      Skew.saltedCountSum(Tables.events(s, dir), col("event_type"),
          col("value"), col("event_id"))
        .select(col("key").as("entity"), col("cnt"), col("weight_sum"))
        .orderBy("entity")),

    // As-of join: each purchase picks up the user's most recent click at
    // or before the purchase time (point-in-time feature lookup).
    "ext18_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      AsOf.joinAsOf(purchases, clicks, "user_id", "ts",
          Seq("value"), prefix = "click_")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          // no-prior-click rows keep the reference's -1 sentinel idiom
          // (null-free output also keeps the row-sorting comparator happy)
          coalesce(unix_micros(col("click_ts")), lit(-1L))
            .as("click_ts_us"),
          coalesce(col("click_value"), lit(-1.0d)).as("click_value"))
        .orderBy("event_id")
    }),

    // Session windows per user (6h inactivity gap) — the data-driven
    // window kind; same operator streams via session_window + watermark.
    "ext19_session_agg" -> ((s, dir) =>
      Windows.sessionAgg(Tables.events(s, dir), col("user_id"), col("value"))
        .orderBy("entity", "session_start_us")),

    // Deterministic hash-based train/val/test split — reproducible across
    // engines/reruns/appends, pure projection (no shuffle, no RNG).
    "ext20_split_assign" -> ((s, dir) =>
      Splits.assign(docs(s, dir), col("doc_id"))
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")),

    // KMV distinct sketch per event_type — deterministic portable-hash
    // sketch, so even the ESTIMATE is oracle-checked (impossible with
    // engine-private HLL). Aggregator form: ≤k int64s of state per group
    // per map task, map-side combined. exact_distinct rides along for
    // error checks.
    "ext21_kmv_distinct" -> ((s, dir) =>
      Sketches.kmvDistinctAgg(Tables.events(s, dir), col("event_type"),
          col("user_id"))
        .orderBy("entity")),

    // Binned interval join: clicks in the hour before each purchase,
    // per user — bounded-fan-out range join (hash join on (key, bin) +
    // residual range filter), never a per-key cross product.
    "ext22_interval_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts")
      IntervalJoin.countRecent(purchases, clicks, "user_id", "ts",
          3600000000L, "n_clicks_1h")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("n_clicks_1h"))
        .orderBy("event_id")
    }),

    // Sequence packing: global token prefix-sum in doc_id order via the
    // two-phase distributed scan (the oracle's single-partition window
    // states the semantics; the operator's plan is the scalable one).
    "ext23_pack_chunks" -> ((s, dir) =>
      Packing.concatChunks(docs(s, dir).select("doc_id", "text"),
          col("doc_id"), size(split(col("text"), " ")), 1024L)
        .select("doc_id", "n_toks", "first_tok", "chunk_id")
        .orderBy("doc_id")),

    // Per-chunk segments: the exact [seg_start, seg_end) token span each
    // doc contributes to each training chunk — docs straddling a chunk
    // boundary emit one row per touched chunk (bounded explode, no extra
    // shuffle on top of the packing prefix sum).
    "ext30_pack_segments" -> ((s, dir) =>
      Packing.packSegments(
        Packing.concatChunks(docs(s, dir).select("doc_id", "text"),
          col("doc_id"), size(split(col("text"), " ")), 1024L), 1024L)
        .select("doc_id", "chunk_id", "seg_start", "seg_end")
        .orderBy("doc_id", "chunk_id")),

    // Per-stratum quality quantiles — the "pick the filter threshold"
    // step of corpus curation. Exact `percentile` (sort-based) — at
    // 100 TB swap for approx_percentile; the exact form is what the
    // oracle can replay.
    "ext24_quality_quantiles" -> ((s, dir) =>
      TextOps.quality(docs(s, dir))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("percentile(quality_score, array(0.25D, 0.5D, 0.9D))")
            .as("qs"))
        .select(col("lang"), col("n_docs"), col("qs")(0).as("p25"),
          col("qs")(1).as("p50"), col("qs")(2).as("p90"))
        .orderBy("lang")),

    // Quantile-threshold curation: keep each language's upper half by
    // quality — the ADAPTIVE per-stratum cutoff (a fixed global
    // threshold over-filters small languages and under-filters big
    // ones). The scored relation is materialized once (production
    // stores quality as a column; at 100 TB that's a written column,
    // not a checkpoint); the threshold table is |langs| rows ->
    // broadcast; the keep-pass is a scan + filter.
    "ext67_quantile_filter" -> ((s, dir) => {
      val q = graft.ops.Reuse.shared(
        TextOps.quality(docs(s, dir))
          .select(col("doc_id"), col("lang"), col("quality_score")))
      val thr = q.groupBy("lang")
        .agg(expr("percentile(quality_score, 0.5D)").as("p50"))
      q.join(broadcast(thr), "lang")
        .filter(col("quality_score") >= col("p50"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Deterministic stratified sample: exactly min(20, |stratum|) docs
    // per (lang, source), chosen by portable hash — WindowGroupLimit
    // keeps per-task top-k before the shuffle.
    "ext25_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedTopK(docs(s, dir).select("doc_id", "lang",
          "source"), Seq("lang", "source"), col("doc_id"), 20)
        .orderBy("lang", "source", "rank")),

    // The at-scale quantile path ext24's in-source note promises: exact
    // percentile over a DETERMINISTIC hash-rank sample (KMV shape —
    // min(k, |stratum|) docs with the smallest portable hashes). The
    // sample is reproducible across engines/partitionings, so even the
    // approximate quantiles hash-match the oracle; per-stratum work is
    // bounded by k regardless of corpus size (WindowGroupLimit prunes
    // pre-shuffle), where ext24's exact form sorts whole strata.
    "ext33_sampled_quantiles" -> ((s, dir) =>
      Sampling.stratifiedTopK(
          TextOps.quality(docs(s, dir))
            .select("doc_id", "lang", "quality_score"),
          Seq("lang"), col("doc_id"), 100, salt = "qs")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          expr("percentile(quality_score, array(0.25D, 0.5D, 0.9D))")
            .as("qs"))
        .select(col("lang"), col("n_sampled"), col("qs")(0).as("p25"),
          col("qs")(1).as("p50"), col("qs")(2).as("p90"))
        .orderBy("lang")),

    // TF-IDF top terms per document — division-form idf (portable where
    // ln is not; order-equivalent for ranking), exact int64 scores,
    // WindowGroupLimit-bounded per-doc top-k.
    "ext38_tfidf_topk" -> ((s, dir) =>
      TextOps.tfidfTopK(docs(s, dir), 5)
        .orderBy("doc_id", "rank")),

    // Weighted deterministic sample: priority hash/weight per lang
    // stratum — longer documents (n_chars) are proportionally likelier,
    // selection reproducible across engines and reruns.
    "ext39_weighted_sample" -> ((s, dir) =>
      Sampling.weightedTopK(docs(s, dir), Seq("lang"), col("doc_id"),
          col("n_chars"), 50)
        .select("doc_id", "lang", "source", "rank")
        .orderBy("lang", "rank")),

    // Inverted index: term -> exact df + bounded ascending posting list
    // in ONE keyed shuffle (doc-local array_distinct, TopKIds-bounded
    // postings).
    "ext40_inverted_index" -> ((s, dir) =>
      TextOps.invertedIndex(docs(s, dir), 20)
        .orderBy("term")),

    // Bigram LM statistics: adjacent-pair counts + quantized conditional
    // probability, global top-200 via TakeOrderedAndProject.
    "ext41_bigram_stats" -> ((s, dir) =>
      TextOps.bigramStats(docs(s, dir), 200)),

    // LM-based quality filter: per-doc floor-mean quantized bigram
    // conditional probability against the self-built corpus LM
    // (CCNet-shape fluency scoring, exact int64 — no libm log).
    "ext42_lm_quality" -> ((s, dir) =>
      TextOps.lmQuality(docs(s, dir))
        .orderBy("doc_id")),

    // T5-style span corruption: deterministic masked-span training
    // pairs (sentinel input + span targets) — the hash draw makes the
    // corruption reproducible across engines, so even the generated
    // training text is oracle-checked.
    "ext46_span_corruption" -> ((s, dir) =>
      TextOps.spanCorruption(docs(s, dir))
        .orderBy("doc_id")),

    // Data mixing: per-language temperature weights (α = 0.5 — the one
    // exponent whose weights are bit-portable, sqrt is IEEE-exact) and
    // the deterministic hash-threshold resample toward a 250-doc target
    // (broadcast rates + filter; the corpus never shuffles).
    "ext44_mixture_weights" -> ((s, dir) =>
      Sampling.mixtureWeights(docs(s, dir), Seq("lang"))
        .orderBy("lang")),

    "ext45_temperature_resample" -> ((s, dir) =>
      Sampling.temperatureResample(docs(s, dir), col("doc_id"), 250L,
          Seq("lang"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // Deterministic random projection 64 -> 16 dims: plan-time ±1
    // hyperplane literals, one fused qdot multiply-add pass per output
    // dim — the compressed representation an ANN index stores at scale.
    // Driver contract: comparator-safe scalars only, so the array of
    // projections is joined to one string (the library API,
    // Similarity.randomProject, keeps the real array column).
    "ext43_random_projection" -> ((s, dir) =>
      Similarity.randomProject(embs(s, dir), 16)
        .select(col("vec_id"),
          array_join(col("proj").cast("array<string>"), ",").as("proj"))
        .orderBy("vec_id")),

    // Corpus-wide vocabulary: global term top-k by frequency — the seed
    // step of tokenizer/vocab construction. Partial-combined hash
    // aggregate, then TakeOrderedAndProject (per-partition top-k +
    // driver merge, no global sort); ties broken by term ASC.
    "ext34_vocab_topk" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("term").asc)
        .limit(500)),

    // Deterministic quantized k-means: the real IVF coarse-quantizer
    // build (ext06 consumes a bucket column; this CONSTRUCTS one) —
    // integer-exact distances + floor-quantized centroid updates make
    // even the iterative clustering oracle-checkable. All four IVF
    // consumers (ext28/31/57/58) read the build-once probe index
    // (Similarity.kmeansProbeIndex): the first pays the Lloyd's build,
    // the rest reuse it — the production build-once/search-many shape
    // (r5 verdict item 4); probe_rank 1 == kmeansBuckets bit-exactly.
    "ext28_kmeans_buckets" -> ((s, dir) =>
      ivfBuckets(s, dir)
        .orderBy("vec_id")),

    // The COMPLETE IVF-ANN path: build the coarse quantizer with
    // deterministic k-means (ext28's construction), assign every vector
    // (and so every query) to its centroid bucket, then search only the
    // query's bucket — ext06's equi-join restriction with a LEARNED
    // partitioning instead of a pre-existing label column. At 100 TB the
    // assignment join is co-partitioned on vec_id and the per-bucket
    // search is the same broadcast-queries scan as ext06.
    "ext31_kmeans_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      // The shared probe index is already a materialized checkpoint
      // leaf, so feeding BOTH ivfTopK sides (corpus + broadcast
      // queries) re-reads blocks, not the Lloyd's iteration plan.
      val withBucket = e.join(ivfBuckets(s, dir), "vec_id")
      Similarity.ivfTopK(withBucket,
          withBucket.filter(col("vec_id") < NumQueryVecs), 3,
          bucket = "bucket")
        .orderBy("q_id", "rank")
    }),

    // Benchmark decontamination: flag corpus docs whose n-gram shingle
    // sets overlap a held-out benchmark set (here: doc_id < 20 plays the
    // eval suite) — the train/test-leak audit every pretraining corpus
    // needs. Benchmark shingles broadcast; corpus never shuffles for the
    // membership probe.
    "ext32_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.benchmarkOverlap(
          d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
        .orderBy("doc_id")
    }),

    // Span-level decontamination: WHERE the benchmark n-grams leak
    // (1-based shingle positions per doc) — the masking input that lets
    // a pipeline excise spans instead of dropping documents.
    "ext50_leak_spans" -> ((s, dir) => {
      val d = docs(s, dir)
      // Driver contract: leak_positions joined to one string (empty
      // array -> ""); Dedup.benchmarkLeakSpans keeps the array API.
      Dedup.benchmarkLeakSpans(
          d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
        .select(col("doc_id"), col("n_leaked"),
          array_join(col("leak_positions").cast("array<string>"), ",")
            .as("leak_positions"))
        .orderBy("doc_id")
    }),

    // Leakage-safe split: near-dup cluster members share the cluster's
    // canonical min id as split key, so no near-dup pair ever straddles
    // train/val/test; unclustered docs assign exactly as ext20.
    "ext51_leakage_safe_split" -> ((s, dir) =>
      Splits.assignLeakageSafeFromClusters(docs(s, dir),
          dupClusters(s, dir))
        .select("doc_id", "split_key", "bucket", "split")
        .orderBy("doc_id")),

    // Deterministic training-shard writer shape: hash-mod shard that a
    // doc keeps forever + reproducible within-shard hash-shuffle order
    // (one keyed shuffle + per-shard sort; no global ordering).
    "ext52_shard_assign" -> ((s, dir) =>
      Splits.shardAssign(docs(s, dir), col("doc_id"), 8)
        .select("doc_id", "shard", "seq")
        .orderBy("doc_id")),

    // Sliding-window chunking with overlap (32-token chunks, 8 shared):
    // the context-window splitter for RAG indexing / fixed-window
    // pretraining; explode-first, all-codegen like the shingle pipeline.
    "ext53_chunk_overlap" -> ((s, dir) =>
      TextOps.chunkWithOverlap(docs(s, dir), 32, 8)
        .orderBy("doc_id", "chunk_id")),

    // Detector-quality audit: recall of the MinHash-LSH candidate
    // generator vs exact n-gram-Jaccard truth at 0.5 — the measured
    // number that justifies the approximate path's band/row knobs. Both
    // detectors consume ONE materialized shingle pass inside the
    // build-once audit artifact (lshAuditPairs) that ext61's precision
    // summary also reads.
    "ext54_lsh_recall" -> ((s, dir) => {
      val p = lshAuditPairs(s, dir)
      Dedup.pairRecall(p.filter(col("rel") === "truth"),
        p.filter(col("rel") === "cand"))
    }),

    // Cross-family detector recall: the wide-simhash candidate set
    // (ext37's generator, hamming <= 3 on 60 bits) scored against the
    // SAME exact-Jaccard truth as the MinHash audit — the number that
    // picks the detector FAMILY (bands vs chunks) for a corpus, not
    // just a family's internal knobs. Truth read off the stored audit
    // artifact.
    "ext65_simhash_recall" -> ((s, dir) =>
      Dedup.pairRecall(
        lshAuditPairs(s, dir).filter(col("rel") === "truth"),
        Dedup.simhashPairsWide(docs(s, dir)).select("id_a", "id_b"))),

    // Wide-simhash hamming-RADIUS curve — prices the chunk detector's
    // other knob the way ext58 prices IVF probes: recall vs the same
    // exact-Jaccard truth AND verified candidate volume at radius 1/2/3,
    // as a 3-row table so the radius is picked off a curve, not ext65's
    // single point. ONE candidate generation (the 4-chunk pigeonhole
    // covers every radius <= 3); each curve row re-thresholds the
    // already-verified hamming column of the shared pair relation.
    "ext70_simhash_radius_curve" -> ((s, dir) => {
      val pairs = graft.ops.Reuse.shared(
        Dedup.simhashPairsWide(docs(s, dir)))
      val truth = lshAuditPairs(s, dir).filter(col("rel") === "truth")
        .select("id_a", "id_b")
      Seq(1, 2, 3).map { r =>
        val cand = pairs.filter(col("hamming") <= r).select("id_a", "id_b")
        Dedup.pairRecall(truth, cand)
          .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
          .select(lit(r.toLong).as("radius"), col("n_true"),
            col("n_detected"), col("recall_q"), col("n_cand"))
      }.reduce(_ unionByName _).orderBy("radius")
    }),

    // Winnowing fingerprints (MOSS): min k-gram hash per sliding window
    // of w=4 — any shared >= k+w-1-token substring shares a fingerprint
    // while only ~2/(w+1) of position hashes are stored.
    "ext55_winnowing" -> ((s, dir) =>
      TextOps.winnowingFingerprints(docs(s, dir))
        .orderBy("doc_id", "fp")),

    // Cross-doc boilerplate span removal (C4/CCNet "repeated paragraph"
    // stage): 16-token spans whose hash appears in >1 distinct docs are
    // dropped; each doc's clean text is its survivors re-joined in order.
    "ext59_boilerplate" -> ((s, dir) =>
      TextOps.boilerplateRemoval(docs(s, dir))
        .orderBy("doc_id")),

    // Mergeable log2-bucket histogram quantiles: <= 64 counters per
    // stratum no matter the data (the bounded-state path beside ext24's
    // exact sort and ext33's hash-rank sample); integer-exact buckets
    // via length(bin(v)), estimates are guaranteed <= 2x upper bounds.
    "ext56_hist_quantiles" -> ((s, dir) =>
      Sketches.logHistogramQuantiles(docs(s, dir), Seq("lang"),
          col("n_chars"))
        .orderBy("lang")),

    // IVF recall audit — ext54's embedding-path counterpart: what
    // fraction of the exact top-3 neighbors does the kmeans-IVF probe
    // (ext31's learned buckets) find. The honest cost of searching only
    // the query's bucket, as one quantized scalar row.
    "ext57_ivf_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val withBucket = e.join(ivfBuckets(s, dir), "vec_id")
      val cand = Similarity.ivfTopK(withBucket,
          withBucket.filter(col("vec_id") < NumQueryVecs), 3,
          bucket = "bucket")
        .select(col("q_id").as("id_a"), col("t_id").as("id_b"))
      Dedup.pairRecall(annTruth(s, dir), cand)
    }),

    // Multi-probe IVF recall CURVE: queries probe their `p` closest
    // buckets for p in 1/2/4 (corpus indexed under rank 1 only) — the
    // knob that buys back the recall ext57 prices, as a 3-row table
    // (recall vs candidate volume) instead of two points, so the
    // operating point is PICKED off a curve before a 100 TB run commits
    // (r5 verdict item 3). One probe index build, one shared brute
    // truth; each curve row reuses both.
    "ext58_ivf_multiprobe_recall" -> ((s, dir) => {
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
    }),

    // IVF bucket-balance audit — the recall curve's cost-side partner:
    // bucket-population extremes + a quantized imbalance factor
    // (max_bucket·n_buckets/n_vectors; 1e6 = perfectly even). Recall
    // (ext57/58) prices what a probe FINDS; balance prices what the
    // worst probe COSTS — a skewed quantizer concentrates candidate
    // volume in hot buckets at 100 TB no matter how good recall looks.
    // Reads the shared build-once index; all-int64 tail.
    "ext60_ivf_balance" -> ((s, dir) =>
      ivfBuckets(s, dir)
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("cnt")).as("n_vectors"),
          max(col("cnt")).as("max_bucket"),
          min(col("cnt")).as("min_bucket"))
        .select(col("n_buckets"), col("n_vectors"), col("max_bucket"),
          col("min_bucket"),
          expr("(max_bucket * n_buckets * 1000000L) DIV n_vectors")
            .as("imbalance_q"))),

    // LSH candidate PRECISION — the other half of ext54's audit: the
    // fraction of emitted candidates that verify as true dups (what the
    // verify stage wastes, vs what the detector misses). Reads the same
    // build-once audit artifact as ext54.
    "ext61_lsh_precision" -> ((s, dir) => {
      val p = lshAuditPairs(s, dir)
      Dedup.pairPrecision(p.filter(col("rel") === "truth"),
        p.filter(col("rel") === "cand"))
    }),

    // Mixture token ledger: per-source doc/token counts, temperature
    // weight, planned token draw from a fixed total budget, and the
    // effective epoch count (epochs_q > 1e6 = the source repeats) —
    // the capacity-planning sheet a pretraining run signs off BEFORE
    // any data moves. One fused keyed aggregate + broadcast total.
    "ext62_token_ledger" -> ((s, dir) =>
      Sampling.tokenLedger(docs(s, dir), TokenBudget, Seq("source"))
        .orderBy("source")),

    // Per-shard content manifest under the ext52 shard draw: row count +
    // order-independent content checksum (sum of portable doc hashes) —
    // the integrity record a shard writer emits so reruns/replicas/
    // other engines verify shards without re-reading them in order.
    "ext63_shard_manifest" -> ((s, dir) =>
      Splits.shardManifest(docs(s, dir), col("doc_id"), 8)
        .orderBy("shard")),

    // Dedup impact report off the stored cluster map: how many near-dup
    // families, how much of the corpus sits in them, the largest family,
    // and the mass a min-per-cluster keeper policy would remove
    // (dup_mass_q, ppm of the corpus) — the one-row number that says
    // whether dedup is worth a 100 TB pass BEFORE committing to it.
    "ext64_dup_stats" -> ((s, dir) =>
      graft.ops.Reporting.dupStats(
        graft.ops.Reporting.clusterStats(dupClusters(s, dir)),
        docs(s, dir).agg(count(lit(1)).as("n_total")))),

    // Per-doc novelty: fraction of a doc's distinct shingles unique to
    // it corpus-wide (ppm) — the per-doc complement of pair dedup
    // (templated text scores near 0 even when no pair crosses a
    // threshold; high scorers carry content the corpus lacks).
    "ext69_novelty" -> ((s, dir) =>
      Dedup.noveltyScores(docs(s, dir))
        .orderBy("doc_id")),

    // Cross-source overlap matrix: which sources duplicate each other
    // (mirrors, syndication, re-crawls) — directional shingle
    // containment in ppm per ordered source pair, the corpus-level
    // signal doc-level dedup only finds pair by pair. Key-df cap bounds
    // per-shingle join fan-out at maxKeyFreq² (non-discriminative
    // boilerplate shingles carry no signal and are dropped on BOTH
    // engine sides).
    "ext68_source_overlap" -> ((s, dir) =>
      Dedup.keyOverlap(docs(s, dir), "source")
        .orderBy("source_a", "source_b")),

    // Corpus data card: the one-row summary a dataset ships with —
    // volume (docs/tokens), composition (langs/sources, largest-source
    // share in ppm), and redundancy (dup mass off the stored cluster
    // map). ONE corpus scan: a (lang, source)-grouped partial feeds
    // every card field; the cluster term reads the build-once artifact.
    "ext66_data_card" -> ((s, dir) =>
      graft.ops.Reporting.dataCard(
        graft.ops.Reuse.shared(
          graft.ops.Reporting.cardPartials(docs(s, dir))),
        graft.ops.Reporting.clusterStats(dupClusters(s, dir)))),

    // Incremental corpus dedup: the crawl increment (doc_id % 10 < 2)
    // deduped against the established corpus through its band table —
    // only the increment is shingled; the corpus side is the stored
    // signature relation a production pipeline keeps between
    // generations.
    "ext36_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val inc = d.filter(col("doc_id") % 10 < 2)
      // r19: the corpus side reads the stored band-table artifact (its
      // documented lifecycle — see corpusBandsIdx); only the increment
      // is shingled per run, exactly the production shape the scaladoc
      // describes. ext03 still prices the full MinHash build.
      Dedup.dedupeIncrement(corpusBandsIdx(s, dir), inc)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // Exact duplicate CLUSTERS: distributed connected components over
    // the MinHash-LSH pair graph — the transitive closure that
    // keepRepresentatives (ext14) approximates in one pass. Every doc in
    // a duplicate chain maps to the min doc_id of its component.
    "ext27_dedup_clusters" -> ((s, dir) =>
      dupClusters(s, dir)
        .orderBy("doc_id")),

    // Quality-aware keeper selection: per duplicate cluster keep the
    // HIGHEST-quality member (tie → min id), not the min id — the
    // production policy ("keep the best copy") composed from the
    // components and quality operators. argmax is one
    // map-side-combinable max(struct(quality, -id)) per cluster — no
    // window sort over the membership.
    "ext47_quality_keeper" -> ((s, dir) => {
      val d = docs(s, dir)
      val scored = TextOps.quality(d)
        .select(col("doc_id"), col("quality_score"))
      dupClusters(s, dir).join(scored, "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("quality_score").as("q"),
            negate(col("doc_id")).as("nid"))).as("m"))
        .select(col("cluster_id"), negate(col("m.nid")).as("keeper_id"),
          col("n_members"), col("m.q").as("keeper_quality"))
        .orderBy("cluster_id")
    }),

    // Corpus stats cube: docs + token totals over GROUPING SETS of
    // (lang, source) — the one relational operator class (cube/rollup)
    // absent from the reference, exercised over the documents table.
    // No NULL langs/sources exist, so '(all)' unambiguously marks the
    // rolled-up levels in both engines.
    "ext48_corpus_cube" -> ((s, dir) =>
      docs(s, dir)
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text"))).cast("long"))
            .as("n_tokens"))
        .select(coalesce(col("lang"), lit("(all)")).as("lang"),
          coalesce(col("source"), lit("(all)")).as("source"),
          col("n_docs"), col("n_tokens"))
        .orderBy("lang", "source")),

    // Bucketed-layout join: both sides written bucketBy(orderkey) ONCE
    // (ensureBucketed seeds the layout idempotently — pay-once, like any
    // real bucketed warehouse table), then joined + aggregated with ZERO
    // exchanges (BucketedJoinSpec asserts the plan) — the data-layout
    // answer to a join that would otherwise shuffle 100 TB per run. The
    // query itself measures the join, not the layout write.
    "ext26_bucketed_join" -> ((s, dir) => {
      val (liTable, ordTable) = ensureBucketed(s, dir)
      graft.sources.BucketedTables
        .bucketedJoin(s, ordTable, liTable, "o_orderkey", "l_orderkey")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double").as("sum_price"))
        .orderBy("o_orderkey")
    }),

    // SemDeDup (Abbas et al.): semantic dedup in embedding space —
    // within each learned kmeans cluster (the build-once probe index),
    // drop every vector whose exact cosine to a lower-id cluster-mate
    // reaches the near-dup threshold. Pairwise work is O(Σ bucket²),
    // never n² — the method's entire point at 100 TB.
    "ext101_semdedup" -> ((s, dir) =>
      Similarity.semDedup(embs(s, dir), ivfBuckets(s, dir))
        .orderBy("vec_id")),

    // Bloom-probed decontamination, priced: the ext32 doc-flag decision
    // with the benchmark membership carried as m-bit/k-hash Bloom bits
    // (the BFF/Dolma filter shape — O(m) bits at any key count,
    // one-sided error) vs the exact hash set, one card row: doc-flag
    // agreement + the measured shingle-level false-positive rate.
    "ext102_bloom_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Sketches.bloomContaminationAudit(
        d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20))
    }),

    // Per-source cap card (RefinedWeb-style "no source exceeds N docs"),
    // priced BEFORE enforcement: docs and token mass kept vs dropped at
    // cap 15, under the same deterministic hash draw a later
    // stratifiedTopK enforcement pass would use. Kept side rides
    // WindowGroupLimit; totals side is a plain map-side agg.
    "ext103_source_cap_audit" -> ((s, dir) =>
      Sampling.capAudit(docs(s, dir), Seq("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long"), 15)
        .orderBy("source")),

    // Normalization-sensitive duplication: distinct docs by raw md5
    // identity vs by normalized (lower/punct/whitespace) identity, per
    // source — the dup mass a C4-style normalized dedup reclaims over
    // ext01's raw-identity pass. The synthetic corpus is already
    // normalized, so the gap column reads an HONEST zero (the ext92
    // discipline); the planted-fixture spec carries the behavior.
    "ext104_normalization_dups" -> ((s, dir) =>
      TextOps.normalizationDupCard(docs(s, dir)).orderBy("source")),

    // Content drift between language subcorpora: pairwise total-
    // variation overlap of unigram distributions, ppm-quantized before
    // the min/sum (exact int64; flooring bias < 1 ppm per shared
    // type). ext82 measures share drift; this measures what the
    // content itself says.
    "ext105_vocab_overlap" -> ((s, dir) =>
      TextOps.vocabOverlap(docs(s, dir)).orderBy("g_a", "g_b")),

    // The full Gopher repetition block per doc: top-{2,3,4}-gram
    // position coverage and duplicate-{5..10}-gram distinct-position
    // coverage, ppm of doc tokens — completes ext29's two signals to
    // the paper's nine. Doc-local everywhere: one tokenization, one
    // bounded 9-way explode, doc-keyed count + join-back.
    "ext106_gopher_repetition" -> ((s, dir) =>
      TextOps.gopherRepetitionCard(docs(s, dir)).orderBy("doc_id")),

    // Product-quantization fidelity (Jégou et al.): exact cosine top-3
    // vs the ADC ranking over 4-subspace × 16-code PQ codes — prices
    // the 64×-compression storage decision the way ext93 prices int8.
    // Query time touches ONLY the codes table + a broadcast LUT; the
    // corpus vectors are read once at encode time.
    "ext107_pq_fidelity" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.pqFidelityAudit(
        e, e.filter(col("vec_id") < NumQueryVecs), 3,
        codebooks = pqCb(s, dir), codes = pqCodesIdx(s, dir))
    }),

    // Two-stage PQ retrieval, recall-priced: ADC top-20 candidate pool
    // off the codes table, exact re-rank of only those vectors, recall
    // vs brute top-3 — measures what reranking recovers of ext107's
    // raw-ADC ranking loss (the production IVF-PQ serving shape).
    "ext108_pq_rerank_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.pqRerankRecallAudit(
        e, e.filter(col("vec_id") < NumQueryVecs), 3, 20,
        codebooks = pqCb(s, dir), codes = pqCodesIdx(s, dir))
    }),

    // SemDeDup detector audit: truth = ALL pairs at/above the cosine
    // threshold (exact, audit-scale), detected = the same-bucket pairs
    // ext101 sees — the miss mass is near-dup pairs split across a
    // centroid boundary (multi-probe, ext58, is the recovery knob).
    // Every approximate path ships with a measured number (ext54/65/
    // 88's discipline); this is ext101's.
    "ext109_semdedup_recall" -> ((s, dir) =>
      Similarity.semDedupRecallAudit(embs(s, dir), ivfBuckets(s, dir))),

    // ext109's recovery knob, measured (ext58's curve for the dedup
    // path): replicate each vector into its p nearest buckets and
    // re-price pair recall at p = 1, 2, 4 off the shared build-once
    // probe index. Row p=1 == ext109's card by construction.
    "ext110_semdedup_probe_curve" -> ((s, dir) =>
      Similarity.semDedupProbeCurve(embs(s, dir), ivfProbeIndex(s, dir),
        ProbeCurve)),

    // Multi-probe SemDeDup as the OPERATOR (r10 verdict item 5 —
    // ext110 measured that probe replication recovers the centroid-
    // boundary misses; this makes the knob turnable in ext101's
    // operator): pair test over each vector's 2 nearest buckets, drop
    // decisions deduped across replicas, output under the home bucket.
    // p=1 == ext101 bit-exactly and p=4 reaches ext110's 100% recall
    // row (both SimilaritySpec laws).
    "ext129_semdedup_probed" -> ((s, dir) =>
      Similarity.semDedupProbed(embs(s, dir), ivfProbeIndex(s, dir),
          probes = 2)
        .orderBy("vec_id")),

    // SOFT dedup APPLIED (closes ext79's measure→apply gap the ext128
    // way): the duplication-aware weights drive the deterministic
    // weighted draw — a near-dup family's total draw mass equals one
    // unduplicated document's, per source stratum, and the variants
    // stay eligible (hard dedup would discard them). Pure composition:
    // dedupWeights ⋈ docs → weightedTopK(weight_ppm) over the same
    // build-once cluster-map artifact ext47/ext64/ext79 read — no new
    // shuffle shape beyond its two parents.
    "ext130_soft_dedup_sample" -> ((s, dir) => {
      val w = Dedup.dedupWeights(docs(s, dir), dupClusters(s, dir))
      Sampling.weightedTopK(
          docs(s, dir).select("doc_id", "source").join(w, "doc_id"),
          Seq("source"), col("doc_id"), col("weight_ppm"), 20,
          salt = "softdd")
        .select("doc_id", "source", "n_members", "weight_ppm", "rank")
        .orderBy("source", "rank")
    }),

    // The soft-dedup capacity ledger (ext85's counterpart for the SOFT
    // policy): per source, raw token mass vs the EFFECTIVE mass under
    // ext79's duplication-aware weights — sum(n_toks x weight_ppm)/1e6,
    // integer-exact and order-independent (the division happens after
    // the long sum). ext85 answers "what would hard dedup delete";
    // this answers "what does down-weighting train on" — the number a
    // token-budgeted mixture (ext62/75/78) plugs in when it keeps the
    // variants. One corpus scan joined to the weights; the cluster map
    // is the shared build-once artifact.
    "ext131_soft_dedup_ledger" -> ((s, dir) => {
      val w = Dedup.dedupWeights(docs(s, dir), dupClusters(s, dir))
      docs(s, dir).select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
        .join(w, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("raw_toks"),
          sum(col("n_toks") * col("weight_ppm")).as("wsum"))
        .select(col("source"), col("n_docs"), col("raw_toks"),
          expr("wsum DIV 1000000").as("eff_toks"),
          expr("((raw_toks - (wsum DIV 1000000)) * 1000000) DIV raw_toks")
            .as("downweight_ppm"))
        .orderBy("source")
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
    "ext132_hll_distinct" -> ((s, dir) =>
      Sketches.hllDistinctAgg(Tables.events(s, dir), col("event_type"),
          col("user_id"))
        .orderBy("entity")),

    // Exponentially-decayed trending: per event type, the 10 users with
    // the highest decayed activity count (half-life 1 day, reference
    // clock = corpus max ts). Decay quantized to whole half-life
    // buckets so every weight is a power of two and the scaled score an
    // EXACT int64 (order-independent, mergeable, oracle-recomputable) —
    // the state behind it is a ≤30-counter histogram per entity that a
    // serving store ages in place per half-life (Decay.shift).
    "ext133_decayed_trend" -> ((s, dir) =>
      Decay.trendingTopK(Tables.events(s, dir), col("event_type"),
          col("user_id"), col("ts"), 86400000000L, 10)
        .orderBy("part", "rank")),

    // DSIR data selection (Xie et al. 2023): select the 100 raw docs
    // whose hashed-unigram bags look most like the TARGET domain
    // (lang = 'en'), by importance resampling with octave-quantized
    // log-ratio weights — pure int64 arithmetic end to end, so the
    // score AND the weighted draw replay bit-for-bit in the oracle
    // (weights are powers of two, making the h/w priority division
    // IEEE-exact, not merely portable).
    "ext134_dsir_select" -> ((s, dir) =>
      Sampling.dsirSelect(docs(s, dir), col("lang") === "en", 100)
        .select("doc_id", "lang", "source", "dsir_log2w", "n_toks",
          "rank")
        .orderBy("rank")),

    // EXACT Jaccard τ=0.8 similarity join via prefix filtering — the
    // lossless counterpart of the LSH/capped candidate generators: the
    // rarest-first prefix equi-join provably produces every τ-pair
    // (pigeonhole), the PPJoin size filter prunes by |set| alone, and
    // the emitted Jaccard is the TRUE one over full shingle sets
    // (integer ppm). The oracle replays the same algorithm; the spec
    // proves completeness against the naive all-pairs join.
    "ext135_jaccard_prefix_join" -> ((s, dir) =>
      Dedup.jaccardPrefixJoin(docs(s, dir))
        .orderBy("id_a", "id_b")),

    // Cohort retention: users grouped by first-seen week, per-week
    // comeback counts as ppm of cohort size — the longitudinal
    // analytics companion of the session/window family, integer-exact
    // end to end (epoch-µs DIV week, counts, ppm DIV).
    "ext136_cohort_retention" -> ((s, dir) =>
      Windows.cohortRetention(Tables.events(s, dir), col("user_id"))
        .orderBy("cohort_p", "p_offset")),

    // Margin-based pair mining (Artetxe & Schwenk 2019 / CCMatrix):
    // candidate pairs between the even-id and odd-id halves of the
    // embedding corpus, kept on the ratio of pair cosine to the mean
    // of BOTH endpoints' k-NN neighborhoods — the hub-robust criterion
    // that raw-cosine thresholds (ext16) cannot express. Neighborhood
    // means fold in rank order and the margin is floor-ppm'd, so the
    // kept set is engine-portable.
    "ext137_margin_mine" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.marginMine(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1))
        .orderBy("a_id", "b_id")
    }),

    // Greedy k-center coreset (Gonzalez; CoreSet selection): k rounds
    // of farthest-point selection over exact int64 squared-L2 — the
    // diversity-maximizing counterpart of the density/dedup prunes
    // (ext119/ext120 keep the TYPICAL, this keeps the SPREAD). Output
    // doubles as the coverage-radius-vs-k curve.
    "ext138_kcenter_coreset" -> ((s, dir) =>
      Similarity.kCenterCoreset(embs(s, dir)).orderBy("sel_rank")),

    // Ordered-step conversion funnel over the event stream: users
    // progressing signup -> view -> click -> purchase, each step
    // strictly after the previous and within 7 days of step 1;
    // per-step conversion as exact ppm of the previous step and of
    // the cohort entry. The sequential companion of ext136's
    // longitudinal retention.
    "ext139_funnel" -> ((s, dir) =>
      Windows.funnel(Tables.events(s, dir), col("user_id"),
        Seq("signup", "view", "click", "purchase")).orderBy("step")),

    // Mass-balanced leakage-safe k-fold assignment off the stored
    // dedup-cluster artifact: the heavy head (top-64 groups by char
    // mass) dealt serpentine round 5 folds, the tail hashed — grouped
    // k-fold where ext51's hash split is only
    // proportional-in-expectation.
    "ext140_balanced_folds" -> ((s, dir) =>
      Splits.balancedFolds(docs(s, dir), dupClusters(s, dir), 5,
          col("n_chars"))
        .orderBy("doc_id")),

    // Margin mining with IVF candidate generation (the ext137 scale
    // path made real): both directions' neighbor lists come from the
    // bucket-restricted ivfTopK instead of the exact cross — the
    // margin algebra above the lists is shared code, bit-identical.
    "ext146_margin_mine_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.marginMineIvf(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1))
        .orderBy("a_id", "b_id")
    }),

    // Kept-pair recall of the CAPPED margin miner — ext146's production
    // answer to its measured dup-mode quadratic (x17 wall at x10 data):
    // the ext124 rebalanced assignment (kmeans argmin, mean-size cap,
    // within-bucket split, composite ids) threaded through the SHARED
    // margin algebra via marginMineBucketed, priced against the exact
    // marginMine as one int64 row — the ext54 discipline: every
    // approximate path ships its price.
    "ext147_margin_recall" -> ((s, dir) => {
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
    }),

    // Stupid-backoff bigram LM document scoring over the corpus-built
    // PRUNED LM — the count-based perplexity filter (CCNet's KenLM
    // analog): kept bigrams score c(w1 w2)/c(w1), pruned transitions
    // back off to 0.4*c(w2)/N, every position contributing its
    // debiased octave (bitlen(ppm)-21); the integer log2-likelihood a
    // curation pipeline thresholds on, where ext42's lm_q is a mean
    // conditional probability with no backoff path.
    "ext148_lm_backoff" -> ((s, dir) =>
      TextOps.stupidBackoffScores(docs(s, dir)).orderBy("doc_id")),

    // Empirical LSH band-plan tuning card: for every (r, b)
    // factorization of the 16-hash MinHash signature, the expected
    // banded-LSH recall E[1-(1-s^r)^b] over the corpus's own true
    // >= tau Jaccard pairs (exact integer ppm s, truncating fixed-point
    // power chains) — the recall-vs-cost trade the shipped 4x4 banding
    // commits to, computed from data instead of assumed.
    // r19: the expected-recall card reads the stored shingle-group
    // artifact (shared with ext113/ext54/ext61) instead of its own
    // corpus explode; the truth-pair aggregate itself stays per-run.
    "ext149_lsh_band_plan" -> ((s, dir) =>
      Dedup.lshBandPlanFromGroups(shingleGroupsIdx(s, dir))
        .orderBy("rows_per_band")),

    // Octave-quantized PSI drift card between the ext81/82 parity
    // snapshots over the doc-length log2 histogram: per-bin
    // (p-q)*oct2(p/q) contributions (all >= 0 by sign alignment) plus
    // the TOTAL tripwire row (bucket = -1) — the standard
    // population-stability drift monitor made engine-exact.
    "ext150_psi_drift" -> ((s, dir) =>
      graft.ops.Reporting.psiDrift(docs(s, dir),
        col("doc_id") % 2 === 0, col("n_chars")).orderBy("bucket")),

    // Exact per-lang quantiles WITHOUT sorting — distributed selection
    // by binary search on the VALUE DOMAIN: the k = ceil(q*n/100)-th
    // smallest found in <= log2(max-min) map-side-combined count
    // passes with ZERO data shuffles; completes the quantile trade
    // square (ext24 exact-by-sort, ext56 one-pass 2x-bounded, ext33
    // one-pass sampled).
    "ext151_selection_quantiles" -> ((s, dir) =>
      Sketches.selectionQuantiles(docs(s, dir), Seq("lang"),
        col("n_chars")).orderBy("lang", "q")),

    // Per-event-type OLS trend slope over daily counts — DIRECTION
    // where ext133/141 rank recency-weighted MASS: five int64
    // sufficient statistics over the (entity, day, count) matrix,
    // global-min-shifted x, one IEEE division floor-ppm'd; zero-
    // variance entities report 0, not 0/0.
    "ext152_trend_slope" -> ((s, dir) =>
      Windows.trendSlopes(Tables.events(s, dir), col("event_type"))
        .orderBy("entity")),

    // The ENCODE side of the tokenizer as a first-class card: one-pass
    // per-word replay of the stored ext111 merge table (rank-map floor
    // scan — O(achievable merges) per word, table-depth-independent;
    // r13 verdict closed: the old replay chained one Spark stage per
    // rank). Output = the full (word, cnt, n_syms) vocabulary.
    "ext153_bpe_encode" -> ((s, dir) =>
      TextOps.bpeApplyCounts(docs(s, dir), bpeMergesIdx(s, dir), 3)
        .where(length(col("word")) > 0).orderBy("word")),

    // Moore-Lewis contrastive selection: per-doc octave log-likelihood
    // under the in-domain (lang='en') stupid-backoff LM minus the
    // general-corpus LM — the classical cross-entropy-difference data
    // selector; gain >= 0 selects. One bigram explode feeds all four
    // count tables.
    "ext154_moore_lewis" -> ((s, dir) =>
      TextOps.mooreLewisScores(docs(s, dir), col("lang") === "en")
        .orderBy("doc_id")),

    // Per-doc character-distribution entropy in integer octaves — the
    // vocabulary-free garbage detector (binary/base64 reads high, spam
    // floods read low); share_ppm surprise = 21 - bitlen, ent_oct =
    // sum(n_c * surprise), mean x1000 — all-positive int64 end to end.
    "ext155_char_entropy" -> ((s, dir) =>
      TextOps.charEntropy(docs(s, dir)).orderBy("doc_id")),

    // CCNet head/middle/tail perplexity buckets per language: docs
    // ranked by length-normalized stupid-backoff penalty (negated
    // octaves x1000 DIV n_bigrams — strictly positive, sign-free DIV),
    // cut into terciles over a deterministic (penalty, doc_id) order;
    // zero-bigram docs land in an explicit 'unscored' bucket.
    "ext156_ccnet_buckets" -> ((s, dir) =>
      TextOps.ccnetBuckets(docs(s, dir)).orderBy("doc_id")),

    // Language-ID confidence margin: best minus runner-up marker score
    // (runner-up = total - max - min, no sort), per-token margin in
    // ppm, confident flag at 1000 ppm — the routing threshold ext08's
    // argmax alone can't express. Stateless codegen projection.
    "ext157_langid_margin" -> ((s, dir) =>
      TextOps.langidMargin(docs(s, dir)).orderBy("doc_id")),

    // Median/MAD anomaly days per event type: pointwise outliers where
    // ext152 reads direction and ext150 distribution drift — modified
    // z-score flag (dev > 7 x MAD, MAD floored at 1), both medians
    // lower-order statistics over the daily count matrix; all int64,
    // zero divisions.
    "ext158_anomaly_days" -> ((s, dir) =>
      Windows.anomalyDays(Tables.events(s, dir), col("event_type"))
        .orderBy("entity", "x")),

    // Top principal direction by fixed-point power iteration over the
    // quantized embedding corpus — (sum xx')v computed as sum x(x.v)
    // per round (one scan, zero joins, 64 decimal rows move), driver
    // normalizes in exact BigInt with a deterministic sign pin; the
    // 3-round iterate is the DEFINED card (textrank's fixed-round
    // discipline), pivot dim at exactly +-1e6.
    "ext159_pca_power" -> ((s, dir) =>
      Similarity.pcaPowerDirection(embs(s, dir)).orderBy("dim")),

    // PMI collocations: the symmetric above-chance association measure
    // (ext41 ranks raw count / conditional prob) — decimal ratio_ppm,
    // debiased bit-length octave, minCount-floored (hapax-pair
    // degeneracy), top-k by the deterministic (ratio, t1, t2) order.
    "ext160_pmi_collocations" -> ((s, dir) =>
      TextOps.pmiCollocations(docs(s, dir), 100)
        .orderBy(col("ratio_ppm").desc, col("t1"), col("t2"))),

    // Length-bucketing card: dynamic-batching padding cost — log2
    // buckets, per-bucket actual max, pad-to-bucket-max vs pad-to-
    // global-max waste in exact tokens and ppm; <= ~40 rows at any
    // corpus size.
    "ext161_length_bucketing" -> ((s, dir) =>
      Packing.lengthBucketing(docs(s, dir),
        size(split(col("text"), " "))).orderBy("bucket")),

    // Frequency-of-frequencies spectrum: N_r type classes for r<=10 +
    // folded tail, token mass per class, Good-Turing adjusted count
    // ppm — the Good-Turing/OOV-mass/vocab-planning relation.
    "ext162_freq_spectrum" -> ((s, dir) =>
      TextOps.freqSpectrum(docs(s, dir)).orderBy("r")),

    // Majority-label propagation over the stored cluster map — the FIX
    // side of ext74's cross-label audit: clustered docs adopt their
    // family's (count DESC, label ASC) majority, singletons keep their
    // own (cluster_id -1, relabeled 0).
    "ext163_label_propagation" -> ((s, dir) =>
      Dedup.labelPropagation(dupClusters(s, dir), docs(s, dir))
        .orderBy("doc_id")),

    // Perceptual near-dup over the multimodal binary column: 60-bit
    // byte-blockhash (native codegen'd scan expression), pigeonhole-
    // bucketed Hamming candidates (12x5-bit chunks — lossless at
    // radius 11, the synthetic-bytes regime; decoded images use the
    // 4x15 radius-3 form), exact bit_count verify. The radius-11
    // regime is a RECALL AUDIT, not the production path (ext171
    // oracle-gates that), and 12x5-bit chunks give only 384 buckets —
    // near-all-pairs candidate mass at corpus scale — so the audit's
    // input is BOUNDED by asset id (the ext13 convention, r15 verdict
    // item 4): constant cost at any SF, the recall law intact.
    "ext164_image_phash_dups" -> ((s, dir) =>
      Multimodal.phashPairs(
          Multimodal.assetsFromDocuments(docs(s, dir))
            .filter(col("asset_id") < 300),
          maxHamming = 11, nChunks = 12)
        .orderBy("id_a", "id_b")),

    // Production-regime phash dedup (radius 3, 4x15-bit chunks — the
    // configuration decoded images ship with) priced as ONE ledger
    // row: candidate-join volume, bucket skew, distinct candidates,
    // survivors — the 100x-safe form oracle-gated (ext164's wide
    // radius stays a priced audit regime).
    "ext171_phash_prod_ledger" -> ((s, dir) =>
      Multimodal.phashCandidateLedger(
        Multimodal.assetsFromDocuments(docs(s, dir)))),

    // BM25 lexical top-k: integer Robertson ranking (odds-ratio idf in
    // ppm, milli tf-normalization), the sparse leg of hybrid search —
    // terms filtered before the shuffle, TakeOrdered head.
    "ext165_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(docs(s, dir), Seq("spark", "window", "join"))),

    // Token-label association (shortcut/label-leakage audit): count-
    // weighted presence PMI per (token, label) cell — decimal ratio,
    // octave, minCount floor, deterministic top-k.
    "ext167_label_assoc" -> ((s, dir) =>
      TextOps.labelAssociation(docs(s, dir), col("lang"))),

    // Token-budget curation cut: best-scored docs admitted in
    // (score DESC, id ASC) order until the token budget — threshold
    // and boundary found by zero-shuffle bisection (the ext151/ext170
    // discipline), never a global sort. Integer ppm quality score
    // (ext09's blend, integerized).
    "ext172_budget_select" -> ((s, dir) =>
      Sampling.budgetSelectCard(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        col("score_ppm"), BudgetSelectTokens)),

    // Per-STRATUM budget cuts (r16): ext172's cut executed for every
    // lang at once — the source-balancing step that EXECUTES what
    // tokenLedger/annealLedger PLAN per stratum. One batched k-ary
    // bisection job per round covers ALL strata (probes ride as
    // broadcast columns, the selectionQuantiles discipline): same job
    // count as ONE ext172 cut, zero data shuffles in the searches.
    "ext173_budget_select_strata" -> ((s, dir) =>
      Sampling.budgetSelectCardsByStratum(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        "lang", col("score_ppm"), StratumBudgetTokens)
        .orderBy("lang")),

    // Budget→fill planning curve (r16): ext172's card at K budgets
    // for the cost of ONE cut — tokens(score > m) is budget-
    // independent, so every threshold round evaluates the union of
    // all budgets' probe ladders once and each budget's bracket
    // advances off the shared sums (boundary rounds batch the
    // per-budget class conditions as columns). The curve a curation
    // plan is chosen FROM.
    "ext174_budget_fill_curve" -> ((s, dir) =>
      Sampling.budgetFillCurve(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        col("score_ppm"), FillCurveBudgets)),

    // Two-level allocation (r16): per-lang caps first (no source can
    // eat the pool — ext173's rule), then ONE global budget over the
    // best-scored survivors (ext172's rule). The card carries both
    // levels' masses so the cap policy's cost is a number. Survivors
    // are a scan predicate off the broadcast cap envelope — never
    // driver-materialized; every search zero-data-shuffle.
    "ext175_two_level_budget" -> ((s, dir) =>
      Sampling.twoLevelBudgetCard(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        "lang", col("score_ppm"), StratumBudgetTokens,
        TwoLevelGlobalTokens)),

    // Per-stratum budget→fill curves (r17): the planning TABLE a
    // per-lang allocation is chosen FROM — ext174's curve for every
    // stratum at once, completing the matrix (ext173 = strata × one
    // budget, ext174 = one stratum × K budgets). |strata| × K cards
    // cost the job count of ONE ext172 cut: threshold probe sums are
    // budget-independent (per-stratum ladder unions ride as broadcast
    // columns), boundary rounds batch (stratum, class, probe)
    // condition pairs, the final cards are one labelled aggregate
    // over a pivoted 1:1 envelope join. The 2500 rung must equal
    // ext173's cards — a cross-query consistency check the oracle
    // enforces for free.
    "ext176_fill_curve_strata" -> ((s, dir) =>
      Sampling.budgetFillCurveByStratum(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        "lang", col("score_ppm"), StratumFillBudgets)
        .orderBy("lang", "budget_tokens")),

    // Two-level cap sweep (r17): ext175's card at K cap values
    // against ONE global budget — the curve the CAP POLICY is chosen
    // FROM (how tight can per-source caps be before the global
    // budget under-fills; how loose before one source floods the
    // survivor pool). Stage 1 = the ext176 batched (stratum × cap)
    // searches; each cap's survivors are a predicate off ONE pivoted
    // 1:1 envelope join; stage-2 domains, rounds and selection sums
    // each batch all K caps as columns in one job. The 2500 rung
    // must equal ext175's card — cross-query consistency the oracle
    // enforces.
    "ext177_cap_sweep" -> ((s, dir) =>
      Sampling.twoLevelCapSweep(
        TextOps.quality(docs(s, dir)).withColumn("score_ppm", expr(ScorePpmExpr)),
        "lang", col("score_ppm"), StratumFillBudgets,
        TwoLevelGlobalTokens)),

    // Corpus snapshot diff (r17): the lineage audit between two
    // crawl/curation versions — per stratum: added / removed /
    // changed / moved (the langid-re-run reclassification, counted
    // out of the old stratum and into the new) / unchanged doc
    // counts plus both sides' token masses. ONE data shuffle (the
    // full-outer id join), ≤2 bounded contributions per doc, one
    // map-side-combined aggregate. The "old" snapshot is derived
    // deterministically from the table (drop %11 docs → added,
    // re-stratify %17 → moved, append " legacy" to %7 texts →
    // changed, shift %13 ids out of range → removed) so both
    // engines diff identical snapshots. The "removed" ids are
    // shifted by max(doc_id) + 1 — collision-free BY CONSTRUCTION at
    // any scale factor (every shifted id exceeds every genuine id;
    // the r17 1000000L literal collided once real ids reached 1e6
    // and aborted on the duplicate-id guard) — the oracle computes
    // the identical shift in a CTE.
    "ext178_corpus_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val shift =
        d.agg(max(col("doc_id"))).first().getLong(0) + 1L
      val oldSnap = d.filter(col("doc_id") % 11 =!= 0)
        .withColumn("lang", when(col("doc_id") % 17 === 0, lit("xx"))
          .otherwise(col("lang")))
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" legacy"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + lit(shift)))
      Sampling.corpusDiff(oldSnap, d, "lang").orderBy("lang")
    }),

    // Versioned corpus diff (r18): the keep-latest lineage serve
    // under the ORACLE gate — ext178 diffs two materialized
    // snapshots; this serves the SAME audit from the family's
    // versioned partials (batch=N is the version, the one-sink
    // discipline), putting foldStratifiedVersioned's max_by-struct
    // arbitration itself under DuckDB replay. Version 1 re-ingests
    // %17 docs under stratum 'xx' (moved), bumps %7-not-%17 docs'
    // score (changed — the sink's (score, toks) fingerprint, text
    // is never stored), and ingests brand-new docs (%13, ids
    // shifted by max+1) first seen at v1 (added). An append-only
    // log cannot REMOVE, so n_removed = 0 structurally (the
    // backward diff is the spec-held transpose).
    "ext179_corpus_diff_versioned" -> ((s, dir) => {
      val d = TextOps.quality(docs(s, dir))
        .withColumn("score_ppm", expr(ScorePpmExpr))
      // The partials projection feeds THREE union branches (v0, the
      // re-ingest filter, the shifted new-docs branch) — materialize
      // once or the tokenize+quality corpus scan plans and runs once
      // per branch under the two version folds (r19; the ext15
      // two-consumer rule).
      val parts = graft.ops.Reuse.shared(
        Sampling.budgetSelectStratumPartials(
          d, col("lang"), col("score_ppm")))
      val shift =
        d.agg(max(col("doc_id"))).first().getLong(0) + 1L
      val v0 = parts.withColumn("_ver", lit(0L))
      val v1 = parts
        .filter(col("_id") % 17 === 0 || col("_id") % 7 === 0)
        .withColumn("_s", when(col("_id") % 17 === 0, lit("xx"))
          .otherwise(col("_s")))
        .withColumn("_score", when(col("_id") % 17 =!= 0,
          col("_score") + 1L).otherwise(col("_score")))
        .unionByName(parts.filter(col("_id") % 13 === 0)
          .withColumn("_id", col("_id") + lit(shift)))
        .withColumn("_ver", lit(1L))
      Sampling.corpusDiffFromVersioned(v0.unionByName(v1), 0L, 1L,
        "lang").orderBy("lang")
    }),

    // Burstiness (Fano factor) per entity over the daily count matrix:
    // dispersion texture next to ext152's direction and ext158's
    // outliers — exact decimal integer, span-normalized (silent days
    // are zeros), same single corpus shuffle.
    "ext166_burstiness" -> ((s, dir) =>
      graft.agg.Windows.burstiness(Tables.events(s, dir),
        col("event_type")).orderBy("entity")),

    // Temporal train/gap/test split: exact selection-quantile cutoff
    // (the ext151 bisection — zero data shuffles), one-day horizon
    // gap, per-segment row/user masses and the user-exposure audit.
    "ext170_temporal_split" -> ((s, dir) =>
      graft.ops.Splits.temporalSplit(Tables.events(s, dir),
        col("user_id"))),

    // Bloom semi-join reduction ledger: the dim side's keys folded
    // into a 4 KiB literal bitset probed inside the fact scan (k
    // codegen'd bit tests) — only survivors reach the exchange;
    // false_neg is the structural-zero tripwire, fpr_ppm the priced
    // shuffle waste.
    "ext168_bloom_semijoin" -> ((s, dir) =>
      Sketches.bloomSemiJoinLedger(
        Tables.lineitem(s, dir),
        Tables.orders(s, dir).filter(col("o_totalprice") > 400000),
        col("l_orderkey"), col("o_orderkey"))),

    // TextRank keyword extraction: damped weighted power iteration
    // over the corpus word-adjacency graph, all fixed-point int64
    // (per-edge DIV truncation, damping blend DIV 100) — PageRank's
    // algebra as a relational loop, top-20 salient tokens.
    "ext145_textrank" -> ((s, dir) =>
      TextOps.textRank(docs(s, dir))
        .orderBy(col("rank_q6").desc, col("token"))),

    // Code-switch segmentation: 16-token windows language-ID'd with
    // the ext08 marker scoring, consecutive same-language windows
    // merged gaps-and-islands — per-doc language STRUCTURE where ext08
    // gives one label; segment count − 1 = code-switch count.
    "ext144_lang_segments" -> ((s, dir) =>
      TextOps.langSegments(docs(s, dir))
        .orderBy("doc_id", "seg_idx")),

    // Reciprocal-rank fusion over the three standard retrieval
    // neighborhoods (cosine / dot / L2 brute rankings, k=10 each):
    // rank positions — not scores — fuse, integer DIV contributions,
    // exact int64 fused score, top-5 re-rank. The hybrid-search
    // combiner for heterogeneous retrievers.
    "ext143_rrf_fusion" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < NumQueryVecs)
      Similarity.rrfFuse(
          Seq("cosine", "dot", "l2").map(m =>
            Similarity.bruteTopKMetric(e, q, 10, m)), 5)
        .orderBy("q_id", "rank")
    }),

    // HYBRID retrieval — the production search shape: the dense leg
    // (quantized cosine top-10 over the shared-id embedding store)
    // RRF-fused with the LEXICAL leg (per-query-document BM25 over
    // the corpus text, ext165's integer pipeline) — rank positions
    // fuse, so the two incomparable score scales need no calibration.
    "ext169_hybrid_search" -> ((s, dir) => {
      val e = embs(s, dir)
      val dense = Similarity.bruteTopKMetric(e,
        e.filter(col("vec_id") < NumQueryVecs), 10, "cosine")
      val lex = TextOps.bm25PerQuery(docs(s, dir),
        docs(s, dir).filter(col("doc_id") < NumQueryVecs), 10)
      Similarity.rrfFuse(Seq(dense, lex), 5).orderBy("q_id", "rank")
    }),

    // Z-order (Morton) layout audit: events bucketed by the
    // interleaved bits of (user_id, event day) vs a single-key sort at
    // the same file granularity — per-bucket row counts and BOTH
    // dimensions' grid spans, the min/max-footer pruning a layout
    // optimizer actually buys. Pure integer projections (grid DIV,
    // bit interleave), no global sort.
    "ext142_zorder_layout" -> ((s, dir) =>
      graft.ops.Layout.zOrderAudit(
          Tables.events(s, dir)
            .select(col("user_id"),
              expr("unix_micros(ts) DIV 86400000000").as("day")),
          col("user_id"), col("day"))
        .orderBy("layout", "bucket")),

    // Decayed trending on the ABSOLUTE epoch grid — the
    // streaming-mergeable variant of ext133: bucket = ts DIV H needs
    // no reference-clock agreement, so per-shard partial histograms
    // merge by pure addition and "now" derives from the merged state
    // (max bucket). Same exact-int64 power-of-two scoring.
    "ext141_trending_aligned" -> ((s, dir) =>
      Decay.trendingTopKAligned(Tables.events(s, dir), col("event_type"),
          col("user_id"), col("ts"), 86400000000L, 10)
        .orderBy("part", "rank")),

    // BPE merge-table LEARNING (Sennrich et al.): tokenizer vocabulary
    // induction as an iterative relational algorithm — one corpus pass
    // builds the word-frequency table, then every round iterates on
    // the vocab-bounded positional symbol state (argmax pair →
    // run-parity greedy merge). The missing third of the tokenizer
    // stack: ext10 applies a tokenizer, ext34 counts a vocab, this
    // LEARNS one. Output = the 3-row merge table artifact.
    "ext111_bpe_merges" -> ((s, dir) =>
      bpeMergesIdx(s, dir).orderBy("merge_rank")),

    // The ENCODE side + estimator pricing: true BPE token counts under
    // the ext111-learned vocabulary vs the chars/4 heuristic that
    // prices token budgets everywhere (ext62/75/78), per language —
    // how far off those budgets run, re-priced as the table deepens.
    "ext112_bpe_estimate_audit" -> ((s, dir) =>
      TextOps.bpeEstimateAuditFrom(docs(s, dir), bpeMergesIdx(s, dir), 3)
        .orderBy("lang")),

    // Asymmetric containment detector: |∩| / min(|A|,|B|) over the
    // capped shingle sets — the doc-inside-doc duplication Jaccard
    // structurally misses (a fully-quoted short doc scores containment
    // 1.0, Jaccard ~0.03). jaccard_ppm rides along so every emitted
    // pair shows what the symmetric detector would have said.
    // r19: reads the stored shingle-group artifact (one shingle pass
    // per corpus snapshot, shared with ext149/ext54/ext61); ext02
    // still prices the identical build from scratch.
    "ext113_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairsFromGroups(shingleGroupsIdx(s, dir),
          threshold = 0.8)
        .orderBy("id_a", "id_b")),

    // Salt-and-replicate skew join: lineitem×part revenue per brand
    // through the salted plan — the manual skew pattern for joins
    // AQE's splitting can't reach (over-broadcast dims, stateful
    // joins). The salt never reaches the result, so the oracle is the
    // PLAIN join + aggregate: correctness of the rewrite itself is
    // what's checked.
    // Per-language rank normalization (the CCNet perplexity-percentile
    // convention): raw scores aren't comparable across strata, so the
    // filter operates on the within-stratum percentile — here the doc
    // length signal, rank-normalized per lang, exact integer
    // percent-rank.
    "ext116_rank_normalize" -> ((s, dir) =>
      Sampling.rankNormalize(
          docs(s, dir).select("doc_id", "lang", "n_chars"),
          Seq("lang"), col("doc_id"), col("n_chars"))
        .orderBy("doc_id")),

    // Signal-redundancy audit: pairwise Pearson over four per-doc
    // integer signals (tokens, chars, type-token ratio, mean word
    // length) — two signals at |corr|→1 gate the same documents, so
    // one is filter budget spent twice. Exact int64 moments off ONE
    // aggregate; the corr is a fixed IEEE sequence (cosine contract).
    "ext115_signal_correlation" -> ((s, dir) =>
      graft.ops.Reporting.signalCorrelations(docs(s, dir), Seq(
        "n_toks" -> size(split(col("text"), " ")).cast("long"),
        "n_chars" -> length(col("text")).cast("long"),
        "ttr_ppm" -> expr("(size(array_distinct(split(text, ' '))) " +
          "* 1000000) DIV size(split(text, ' '))"),
        "wlen_ppm" -> expr("((length(text) - (size(split(text, ' ')) " +
          "- 1)) * 1000000) DIV size(split(text, ' '))")))
        .orderBy("sig_a", "sig_b")),

    "ext114_salted_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("partkey"),
          col("l_extendedprice"), col("l_orderkey"))
      val p = Tables.part(s, dir)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.ops.Skew.saltedJoin(li, p, "partkey",
          col("l_orderkey") * lit(7919) + col("partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double").as("revenue"))
        .orderBy("p_brand")
    }),

    // The COMPOSED production retrieval operator (r9, verdict item 1):
    // IVF probe restriction × PQ/ADC candidate generation × exact
    // rerank — the 100 TB serving shape both halves were priced for
    // separately (ext58's probe curve, ext107/108's ADC cards). The
    // ADC scan touches only the codes of the query's 2 probed buckets;
    // the float vectors are read only at the 20-candidate rerank.
    "ext117_ivfpq_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < NumQueryVecs),
          ivfProbeIndex(s, dir), k = 3, probes = 2, candidates = 20,
          codebooks = pqCb(s, dir), codedCorpus = pqCodedIdx(s, dir))
        .orderBy("q_id", "rank")
    }),

    // ext117's recall curve — ext58's discipline for the full stack:
    // recall vs the exact brute-force top-3 at p = 1, 2, 4 probes off
    // the shared build-once artifacts. The residual at p=4 is PQ
    // ranking error the 20-candidate pool didn't recover; the gap
    // between rows is centroid-boundary loss.
    "ext118_ivfpq_probe_curve" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfPqProbeCurve(e, e.filter(col("vec_id") < NumQueryVecs),
        ivfProbeIndex(s, dir), ProbeCurve, k = 3, candidates = 20,
        codebooks = pqCb(s, dir), codedCorpus = pqCodedIdx(s, dir))
    }),

    // Cluster-prototypicality pruning (Sorscher et al. 2022): exact
    // centroid distance, percent-ranked WITHIN the stored kmeans
    // bucket, keep the hard half (the large-corpus prescription —
    // easy examples are the redundant mass). Off the shared build-once
    // probe index like the whole IVF family.
    "ext119_prototype_pruning" -> ((s, dir) =>
      Similarity.prototypePruning(embs(s, dir), ivfBuckets(s, dir),
          keepPpm = 500000L, keep = "hard")
        .orderBy("vec_id")),

    // kNN-density outlier card: count/mean/max of the k nearest
    // cluster-mate distances per vector — dense neighborhoods mark
    // redundant mass, isolated points mark OOD/garbage embeddings.
    // Bucket-restricted candidates are the production shape (the
    // semDedup argument); isolated vectors emit n_neighbors 0.
    "ext120_knn_density" -> ((s, dir) =>
      Similarity.knnDensity(embs(s, dir), ivfBuckets(s, dir), k = 5)
        .orderBy("vec_id")),

    // Two-phase curriculum ledger: bulk (α=1, 90% of budget) + anneal
    // (α=0.5, 10%) per source off ONE counts aggregate — the plan
    // sheet of a bulk+anneal pretraining run; epochs_q > 1e6 on an
    // anneal row is the overfit warning.
    "ext121_anneal_ledger" -> ((s, dir) =>
      Sampling.annealLedger(docs(s, dir), TokenBudget)
        .orderBy("phase", "source")),

    // Within-doc repetition surgery: intra-document dedup — the APPLY
    // side of ext106's dup-n-gram measure (RefinedWeb line-dedup at
    // n-gram granularity). First occurrence survives, repeats cut,
    // reassembled in order; doc-local everywhere (no cross-doc state).
    "ext123_repetition_surgery" -> ((s, dir) =>
      Dedup.repetitionSurgery(docs(s, dir)).orderBy("doc_id")),

    // Semantic decontamination: the embedding-space member of the
    // decontamination family (ext97 lexical spans, ext102 Bloom
    // membership) — paraphrase-level eval leaks that n-grams miss.
    // Bench side = the fixed query subset; output = removal list +
    // audit trail (nearest bench item per corpus vector).
    "ext122_semantic_decontamination" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.semanticDecontaminate(
          e.filter(col("vec_id") >= NumQueryVecs),
          e.filter(col("vec_id") < NumQueryVecs))
        .orderBy("vec_id")
    }),

    // IVF bucket split/rebalance balance card (r9 verdict item 1): the
    // operator form of the quadratic-bucket hazard's production answer
    // — buckets above the cap (mean size here) re-cluster WITHIN the
    // bucket via the same deterministic Lloyd's, composite child ids,
    // and every same-bucket pair consumer (semDedup/knnDensity) takes
    // the rebalanced assignment unchanged. The card is ext60's shape
    // twice: before/after bucket extremes + max-bucket share, the
    // number that bounds the pair joins' worst term.
    "ext124_bucket_rebalance" -> ((s, dir) => {
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
    }),

    // END-TO-END curation pipeline (r9 verdict item 6): the full
    // modern chain composed ONCE as a graded query — gopher rules →
    // within-doc repetition surgery → cross-doc span surgery →
    // semantic + Bloom decontamination → sqrt-temperature mixture →
    // pack — each stage the EXISTING operator (ext71/123/96/122/102/
    // 62/59 respectively), benchmark = doc_id < 20 (the ext97/102
    // convention), corpus = the rest. Output: the per-stage data card
    // (docs/toks surviving, removed vs the previous stage), then one
    // mix:<source> row per stratum with its planned token draw, then
    // the pack row (sequences at ctx 512, padding waste). Every stage
    // is a keyed aggregate / broadcast-artifact join — composing them
    // adds no new shuffle shape, which is the point: the pipeline IS
    // the operators.
    // indexKey routes the snapshot artifacts (keeper relation, bench
    // shingles, Bloom bits, bench vectors) through Reuse.index — the
    // bench's second pass and any repeated card pay the builds once
    // (r10 verdict item 6), with the card itself unchanged.
    "ext126_curation_pipeline" -> ((s, dir) =>
      Curation.pipelineCard(docs(s, dir), embs(s, dir),
          NumQueryVecs.toLong, TokenBudget, CurationCtx,
          indexKey = Some(dir))
        .orderBy("stage_ord", "stage"))
  )

  /** The margin CTE chain, name-prefixed so ext147 can run TWO
    * instances (exact + bucket-capped) in one WITH: dots/rank/
    * fold-mean/margin over the parity split, candidate pairs
    * restricted by `extraJoin` (inserted into the dot join's FROM) and
    * `bucketPred` (ANDed into its WHERE). Assumes QuantFlatSql's
    * `flat`/`n2` are in scope; leaves `{p}kept(a_id, b_id, fwd_rank,
    * cos, margin_ppm)` — the positive-neighborhood guard (a_knn +
    * b_knn > 0) mirrors [[graft.ops.Similarity.marginFromRanked]]. */
  private def marginCtes(p: String, extraJoin: String,
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
  private def marginMineSql(bucketPred: String): String =
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
  private def materializeCtes(sql: String): String =
    sql.replaceAll("([a-z_0-9]+ AS) \\(", "$1 MATERIALIZED (")

  /** The ext124 rebalanced-assignment CTE chain (kmeans argmin →
    * mean-size cap → within-bucket split → composite ids), shared by
    * the ext124 card and the ext147 recall audit; leaves
    * `reb(vec_id, bucket)`. Assumes QuantFlatSql's CTEs in scope. */
  private def rebalanceCtes: String =
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

  def oracleSql: Map[String, String] = Map(
    "ext01_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
        |       count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "ext02_dedup_ngram_jaccard" ->
      s"""$ShingleSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b USING (h)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, n_inter,
         |       CAST(n_inter AS DOUBLE) /
         |         CAST(na.n + nb.n - n_inter AS DOUBLE) AS jaccard
         |FROM inter JOIN sizes na ON na.doc_id = id_a
         |           JOIN sizes nb ON nb.doc_id = id_b
         |WHERE CAST(n_inter AS DOUBLE) /
         |        CAST(na.n + nb.n - n_inter AS DOUBLE) >= 0.1
         |ORDER BY id_a, id_b""".stripMargin,

    "ext03_dedup_minhash_lsh" ->
      s"""$ShingleSql,
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
         |  WHERE a.doc_id < b2.doc_id)
         |SELECT id_a, id_b,
         |       CAST($eqCountSql AS DOUBLE) / ${Dedup.NumHashes} AS est_jaccard
         |FROM cand JOIN sig sa ON sa.doc_id = id_a
         |          JOIN sig sb ON sb.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin,

    "ext04_dedup_simhash" ->
      s"""WITH th AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |h AS (SELECT doc_id, ${hashSql("tok")} AS h FROM th),
         |votes AS (
         |  SELECT doc_id, i,
         |         SUM(CAST(2 * ((h >> CAST(i AS INTEGER)) & 1) - 1 AS BIGINT))
         |           AS vote
         |  FROM h, range(32) r(i) GROUP BY 1, 2),
         |sh2 AS (
         |  SELECT doc_id,
         |         CAST(SUM(CASE WHEN vote > 0
         |           THEN (CAST(1 AS BIGINT) << CAST(i AS INTEGER))
         |           ELSE 0 END) AS BIGINT) AS simhash
         |  FROM votes GROUP BY 1),
         |chunks AS (
         |  SELECT doc_id, simhash, c.chunk_id,
         |         (simhash >> CAST(c.chunk_id * 8 AS INTEGER)) & 255 AS chunk
         |  FROM sh2, range(4) c(chunk_id)),
         |p AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.simhash AS sa, b.simhash AS sb
         |  FROM chunks a JOIN chunks b USING (chunk_id, chunk)
         |  WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM p WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // 60-bit twin of ext04: two salted token hashes feed bits 0-29 /
    // 30-59; chunk width 15.
    "ext37_dedup_simhash_wide" ->
      s"""WITH $simhashWideCtes
         |SELECT id_a, id_b,
         |       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM p WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // Cross-family recall: the wide-simhash candidate chain (ext37's
    // CTEs) scored against the same exact-Jaccard truth as the MinHash
    // audit; unreferenced minhash CTEs in the shared block cost nothing.
    "ext65_simhash_recall" ->
      s"""$lshDetectorCtes,
         |$simhashWideCtes,
         |cand_s AS (SELECT id_a, id_b FROM p
         |           WHERE bit_count(xor(sa, sb)) <= 3),
         |m AS (
         |  SELECT CASE WHEN c.id_a IS NULL THEN NULL ELSE 1 END AS hit
         |  FROM truth t LEFT JOIN cand_s c
         |    ON t.id_a = c.id_a AND t.id_b = c.id_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_true,
         |       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_detected,
         |       CAST(COALESCE(floor(1000000.0 * (CAST(SUM(hit) AS DOUBLE)
         |            / CAST(count(*) AS DOUBLE))), 0) AS BIGINT)
         |         AS recall_q
         |FROM m""".stripMargin,

    // The radius curve: one verified hamming relation (`ham`), three
    // re-thresholded summary rows; candidate volume via a scalar
    // subquery per row.
    "ext70_simhash_radius_curve" ->
      s"""$lshDetectorCtes,
         |$simhashWideCtes,
         |ham AS (SELECT id_a, id_b,
         |               CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |        FROM p WHERE bit_count(xor(sa, sb)) <= 3)
         |${Seq(1, 2, 3).map { r =>
           s"""SELECT CAST($r AS BIGINT) AS radius,
              |       CAST(count(*) AS BIGINT) AS n_true,
              |       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_detected,
              |       CAST(COALESCE(floor(1000000.0 * (CAST(SUM(hit) AS DOUBLE)
              |            / CAST(count(*) AS DOUBLE))), 0) AS BIGINT)
              |         AS recall_q,
              |       (SELECT CAST(count(*) AS BIGINT) FROM ham
              |        WHERE hamming <= $r) AS n_cand
              |FROM (SELECT CASE WHEN c.id_a IS NULL THEN NULL ELSE 1 END AS hit
              |      FROM truth t LEFT JOIN ham c
              |        ON t.id_a = c.id_a AND t.id_b = c.id_b
              |           AND c.hamming <= $r) m$r""".stripMargin
         }.mkString("\nUNION ALL\n")}
         |ORDER BY radius""".stripMargin,

    "ext14_dedup_pipeline" ->
      s"""$ShingleSql,
         |sig AS (
         |  SELECT doc_id,
         |         $minhashMinsSql
         |  FROM sh GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, b.band_id,
         |         CASE b.band_id $bandSigSql END AS band_sig
         |  FROM sig, (VALUES (0), (1), (2), (3)) b(band_id)),
         |dropped AS (
         |  SELECT DISTINCT b2.doc_id AS doc_id
         |  FROM bands a JOIN bands b2 USING (band_id, band_sig)
         |  WHERE a.doc_id < b2.doc_id)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d ANTI JOIN dropped USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Two independent shingle chains (per-corpus stop-cap, like the
    // Spark side's per-call signatures); a new doc is dropped on any
    // shared band with the corpus or a lower-id increment doc.
    "ext36_incremental_dedup" ->
      s"""WITH corp AS (SELECT * FROM documents WHERE doc_id % 10 >= 2),
         |inc AS (SELECT * FROM documents WHERE doc_id % 10 < 2),
         |${shingleCtes("corp", "_c")},
         |${shingleCtes("inc", "_n")},
         |sig_c AS (SELECT doc_id, $minhashMinsSql FROM sh_c GROUP BY 1),
         |sig_n AS (SELECT doc_id, $minhashMinsSql FROM sh_n GROUP BY 1),
         |bands_c AS (
         |  SELECT doc_id, b.band_id,
         |         CASE b.band_id $bandSigSql END AS band_sig
         |  FROM sig_c, (VALUES (0), (1), (2), (3)) b(band_id)),
         |bands_n AS (
         |  SELECT doc_id, b.band_id,
         |         CASE b.band_id $bandSigSql END AS band_sig
         |  FROM sig_n, (VALUES (0), (1), (2), (3)) b(band_id)),
         |partners AS (
         |  SELECT doc_id AS pid, band_id, band_sig, TRUE AS is_corp
         |  FROM bands_c
         |  UNION ALL
         |  SELECT doc_id AS pid, band_id, band_sig, FALSE AS is_corp
         |  FROM bands_n),
         |dropped AS (
         |  SELECT DISTINCT n.doc_id
         |  FROM bands_n n JOIN partners p
         |    ON p.band_id = n.band_id AND p.band_sig = n.band_sig
         |  WHERE p.is_corp OR p.pid < n.doc_id)
         |SELECT d.doc_id, d.lang, d.source
         |FROM inc d ANTI JOIN dropped USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "ext05_sim_brute_topk" -> cosTopKSql("", 5),

    "ext49_hard_negatives" -> cosTopKSql("", 5,
      scoreWhere = s"WHERE cos < ${Similarity.NearDupThreshold}"),

    "ext06_sim_ivf_topk" -> cosTopKSql("AND a.label = b.label", 3),

    // Random-hyperplane LSH: hyperplane sign (j,i) = bit (j%31) of the
    // portable hash of "hp<j>:<i>" — reproducible in SQL, so even the
    // ANN bucketing itself is oracle-checked.
    "ext07_sim_lsh_ann" ->
      s"""$QuantFlatSql,
         |$lshSigCtes,
         |${cosTopKCtes("", lshBucketJoin)}
         |SELECT q_id, t_id, CAST(rank AS BIGINT) AS rank, cos
         |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // ext07's signature buckets ranked to the truth's k, scored by
    // the ext57 recall tail against the exact cosine top-3.
    "ext88_lsh_ann_recall" ->
      s"""$QuantFlatSql,
         |$lshSigCtes,
         |${cosTopKCtes("_t", "")},
         |truth AS (SELECT q_id, t_id FROM r_t WHERE rank <= 3),
         |${cosTopKCtes("_c", lshBucketJoin)},
         |cand AS (SELECT q_id, t_id FROM r_c WHERE rank <= 3),
         |$recallTailSql""".stripMargin,

    // Brute audit (the ext76 vote/majority chain) vs the same chain
    // restricted to the kmeans-IVF bucket (a3 = the learned argmin
    // assignment), joined per audited vector into the agreement row.
    "ext89_knn_audit_probe" ->
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
         |FROM j""".stripMargin,

    // Banded-LSH near-dup: the oracle recomputes the 16-hyperplane
    // signature, the 4-bit banding, the candidate self-join AND the exact
    // quantized cosine — the full approximate pipeline is oracle-checked,
    // not just the verify step.
    "ext16_dedup_embed_cosine" ->
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
         |ORDER BY id_a, id_b""".stripMargin,

    // Frame sampling over binary columns: the docs are ASCII, so byte
    // slicing equals char slicing and hex() agrees across engines.
    "ext13_multimodal_frames" ->
      """SELECT doc_id AS asset_id, CAST(i AS BIGINT) AS frame_no,
        |       lower(hex(substr(text, CAST(i * 16 + 1 AS BIGINT), 8)))
        |         AS frame_hex
        |FROM documents JOIN range(0, 100000) g(i)
        |  ON i <= (len(text) - 1) // 16
        |WHERE doc_id < 50
        |ORDER BY asset_id, frame_no""".stripMargin,

    "ext15_corpus_pipeline" ->
      s"""WITH scored AS (
         |  SELECT doc_id, text, lang, source,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("en")}))) AS BIGINT) AS score_en,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("es")}))) AS BIGINT) AS score_es,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("zh")}))) AS BIGINT) AS score_zh,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |    least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |      (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
         |      AS quality_score,
         |    CASE WHEN score_en >= score_es AND score_en >= score_zh THEN 'en'
         |         WHEN score_es >= score_zh THEN 'es'
         |         ELSE 'zh' END AS predicted
         |  FROM documents),
         |filtered AS (
         |  SELECT doc_id, text, lang, source FROM scored
         |  WHERE predicted = 'en' AND quality_score >= 0.4),
         |${shingleCtes("filtered")},
         |sig AS (
         |  SELECT doc_id,
         |         $minhashMinsSql
         |  FROM sh GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, b.band_id,
         |         CASE b.band_id $bandSigSql END AS band_sig
         |  FROM sig, (VALUES (0), (1), (2), (3)) b(band_id)),
         |dropped AS (
         |  SELECT DISTINCT b2.doc_id AS doc_id
         |  FROM bands a JOIN bands b2 USING (band_id, band_sig)
         |  WHERE a.doc_id < b2.doc_id)
         |SELECT lang, source, count(*) AS kept_docs,
         |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM filtered ANTI JOIN dropped USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ext08_text_langid" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> t IN (${markerList("en")}))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> t IN (${markerList("es")}))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> t IN (${markerList("zh")}))) AS BIGINT) AS score_zh,
         |  CASE WHEN score_en >= score_es AND score_en >= score_zh THEN 'en'
         |       WHEN score_es >= score_zh THEN 'es'
         |       ELSE 'zh' END AS predicted
         |FROM documents ORDER BY doc_id""".stripMargin,

    "ext09_text_quality" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |  CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_chars_nospace,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |  CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio,
         |  CAST(n_chars_nospace AS DOUBLE) / CAST(n_words AS DOUBLE)
         |    AS avg_word_len,
         |  least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |    (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
         |    AS quality_score
         |FROM documents ORDER BY doc_id""".stripMargin,

    "ext10_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(list_sum(list_transform(string_split(text, ' '),
        |    t -> (len(t) + 3) // 4)) AS BIGINT) AS n_bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ext71_gopher_rules" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    (CAST(len(replace(text, ' ', '')) AS BIGINT) * 1000)
         |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS mwl_q,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS stop_hits
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, n_toks, mwl_q, stop_hits,
         |    CAST(CASE WHEN n_toks BETWEEN ${TextOps.GopherMinToks}
         |      AND ${TextOps.GopherMaxToks} THEN 1 ELSE 0 END AS BIGINT)
         |      AS r_len,
         |    CAST(CASE WHEN mwl_q BETWEEN ${TextOps.GopherMinMwlQ}
         |      AND ${TextOps.GopherMaxMwlQ} THEN 1 ELSE 0 END AS BIGINT)
         |      AS r_mwl,
         |    CAST(CASE WHEN stop_hits >= ${TextOps.GopherMinStop}
         |      THEN 1 ELSE 0 END AS BIGINT) AS r_stop
         |  FROM m)
         |SELECT doc_id, n_toks, mwl_q, stop_hits, r_len, r_mwl, r_stop,
         |       r_len * r_mwl * r_stop AS keep
         |FROM f ORDER BY doc_id""".stripMargin,

    "ext72_vocab_growth" ->
      """WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
        |p AS (SELECT unnest([10, 50, 100]) AS pct),
        |tok AS (SELECT doc_id,
        |               unnest(string_split(text, ' ')) AS tok
        |        FROM documents),
        |fd AS (SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY 1),
        |va AS (SELECT pct, CAST(count(*) AS BIGINT) AS n_vocab
        |       FROM fd, mx, p
        |       WHERE first_doc * 100 <= max_id * pct GROUP BY 1),
        |ta AS (SELECT pct,
        |              CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |                AS n_tokens
        |       FROM documents, mx, p
        |       WHERE doc_id * 100 <= max_id * pct GROUP BY 1)
        |SELECT CAST(pct AS BIGINT) AS pct, n_tokens, n_vocab
        |FROM ta JOIN va USING (pct) ORDER BY pct""".stripMargin,

    "ext73_zipf_head" ->
      """WITH tc AS (
        |  SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |        FROM documents) GROUP BY 1),
        |tot AS (SELECT SUM(c) AS total FROM tc),
        |rk AS (SELECT c,
        |              row_number() OVER (ORDER BY c DESC, tok ASC) AS rank
        |       FROM tc),
        |ks AS (SELECT unnest([10, 100, 1000]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        |       CAST(count(*) AS BIGINT) AS n_head,
        |       CAST(SUM(c) AS BIGINT) AS covered,
        |       (CAST(SUM(c) AS BIGINT) * 1000000)
        |         // (SELECT CAST(total AS BIGINT) FROM tot) AS coverage_q
        |FROM rk, ks WHERE rank <= k GROUP BY k ORDER BY k""".stripMargin,

    // Same transitive closure as the ext27/ext47/ext64 oracles, then
    // the per-cluster label-diversity aggregate over the doc join.
    "ext74_cross_lang_dup" ->
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT lang) AS BIGINT) AS n_labels,
         |       min(doc_id) AS keeper_id
         |FROM cl JOIN documents USING (doc_id) GROUP BY 1
         |HAVING count(DISTINCT lang) > 1 ORDER BY 1""".stripMargin,

    "ext75_token_fertility" ->
      """WITH g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
        |    CAST(SUM(list_sum(list_transform(string_split(text, ' '),
        |      t -> (len(t) + 3) // 4))) AS BIGINT) AS bpe_tokens
        |  FROM documents GROUP BY lang)
        |SELECT lang, n_docs, ws_tokens, bpe_tokens,
        |       (bpe_tokens * 1000000) // ws_tokens AS fertility_q
        |FROM g ORDER BY lang""".stripMargin,

    // Twin of LabelAudit.knnLabelAudit: the cosTopKCtes ranking (same
    // audited set `vec_id < NumQueryVecs`), then majority neighbor
    // label with (votes DESC, label ASC) tie-break.
    "ext76_knn_label_audit" ->
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
         |WHERE m.rn = 1 ORDER BY vec_id""".stripMargin,

    // ext76's vote/majority chain over the L2 neighborhood: dist =
    // n2(q) + n2(t) − 2·dot, rank ASC — all-int64, no doubles anywhere.
    "ext90_knn_audit_l2" ->
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
         |WHERE m.rn = 1 ORDER BY vec_id""".stripMargin,

    // Twin of Dedup.dupSpanMass: positional shingles (NO distinct, no
    // hot-cap — every occurrence counts), min<>max doc per hash as the
    // cross-document sharing test, position coverage via the 0..n-1
    // offset cross join.
    "ext91_dup_span_mass" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |shared AS (
         |  SELECT h FROM pos GROUP BY h HAVING min(doc_id) <> max(doc_id)),
         |dup AS (SELECT p.doc_id, p.i FROM pos p JOIN shared USING (h)),
         |perdoc AS (SELECT doc_id, count(*) AS n_spans FROM pos GROUP BY 1),
         |dupagg AS (
         |  SELECT doc_id, count(*) AS n_dup_spans FROM dup GROUP BY 1),
         |cov AS (SELECT doc_id, count(DISTINCT i + o) AS n_covered
         |        FROM dup, range(0, 3) r(o) GROUP BY doc_id),
         |base AS (
         |  SELECT doc_id,
         |         least(len(string_split(text, ' ')),
         |               ${Dedup.MaxShinglesPerDoc + 2}) AS scanned
         |  FROM documents)
         |SELECT b.doc_id,
         |       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
         |       CAST(COALESCE(d.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
         |       CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered_toks,
         |       CASE WHEN b.scanned = 0 OR c.n_covered IS NULL
         |            THEN CAST(0 AS BIGINT)
         |            ELSE (CAST(c.n_covered AS BIGINT) * 1000000)
         |                   // CAST(b.scanned AS BIGINT) END AS dup_mass_ppm
         |FROM base b LEFT JOIN perdoc p USING (doc_id)
         |            LEFT JOIN dupagg d USING (doc_id)
         |            LEFT JOIN cov c USING (doc_id)
         |ORDER BY b.doc_id""".stripMargin,

    // Maximal duplicated spans: ext91's coverage CTEs, then the
    // recursion-free islands trick — p − row_number(p) is constant
    // exactly while covered positions are consecutive.
    "ext125_dup_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |shared AS (
         |  SELECT h FROM pos GROUP BY h HAVING min(doc_id) <> max(doc_id)),
         |dup AS (SELECT p.doc_id, p.i FROM pos p JOIN shared USING (h)),
         |cov AS (SELECT DISTINCT doc_id, i + o AS p
         |        FROM dup, range(0, 3) r(o)),
         |isl AS (SELECT doc_id, p,
         |               p - row_number() OVER (
         |                 PARTITION BY doc_id ORDER BY p) AS g
         |        FROM cov)
         |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
         |       CAST(count(*) AS BIGINT) AS span_len
         |FROM isl GROUP BY doc_id, g
         |ORDER BY doc_id, span_start""".stripMargin,

    // Histogram over the same islands relation.
    "ext127_dup_span_histogram" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |shared AS (
         |  SELECT h FROM pos GROUP BY h HAVING min(doc_id) <> max(doc_id)),
         |dup AS (SELECT p.doc_id, p.i FROM pos p JOIN shared USING (h)),
         |cov AS (SELECT DISTINCT doc_id, i + o AS p
         |        FROM dup, range(0, 3) r(o)),
         |isl AS (SELECT doc_id, p,
         |               p - row_number() OVER (
         |                 PARTITION BY doc_id ORDER BY p) AS g
         |        FROM cov),
         |spans AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS span_len
         |  FROM isl GROUP BY doc_id, g)
         |SELECT span_len, CAST(count(*) AS BIGINT) AS n_spans,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(SUM(span_len) AS BIGINT) AS total_toks
         |FROM spans GROUP BY span_len ORDER BY span_len""".stripMargin,

    // Twin of TextOps.piiAudit: hit counts per pattern on the raw text,
    // the ordered regexp_replace scrub chain, per-source card. The
    // pattern strings interpolate from TextOps.PiiPatterns — one source
    // of truth for both engines (Java-regex ∩ RE2 subset).
    "ext92_pii_audit" -> {
      val hitCols = TextOps.PiiPatterns.map { case (name, pat) =>
        s"CAST(SUM(len(regexp_extract_all(text, '$pat'))) AS BIGINT)" +
          s" AS hits_$name"
      }.mkString(",\n       |       ")
      val anyHit = TextOps.PiiPatterns
        .map { case (_, pat) => s"regexp_matches(text, '$pat')" }
        .mkString("\n       |              OR ")
      val scrubbed = TextOps.PiiPatterns.foldLeft("text") {
        case (e, (name, pat)) =>
          s"regexp_replace($e, '$pat', '<${name.toUpperCase}>', 'g')"
      }
      s"""SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       $hitCols,
         |       CAST(SUM(CASE WHEN $anyHit
         |                THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
         |       CAST(SUM(length(text)) AS BIGINT) AS n_chars_raw,
         |       CAST(SUM(length($scrubbed)) AS BIGINT) AS n_chars_scrubbed
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },

    // Twin of TextOps.redactPii over the same planted corpus: a staged
    // CTE chain — stage i counts pattern i's matches on the text AS
    // ALREADY REDACTED by stages < i, then replaces globally. Pattern
    // strings interpolate from TextOps.PiiPatterns (one source of
    // truth; Java-regex ∩ RE2 subset).
    "ext128_pii_redaction" -> {
      val stages = TextOps.PiiPatterns.zipWithIndex.map {
        case ((name, pat), i) =>
          s"""s${i + 1} AS (
             |  SELECT * EXCLUDE (t),
             |         CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT)
             |           AS n_redact_$name,
             |         regexp_replace(t, '$pat', '<${name.toUpperCase}>', 'g')
             |           AS t
             |  FROM s$i)""".stripMargin
      }
      val last = s"s${TextOps.PiiPatterns.length}"
      val counts = TextOps.PiiPatterns.map(p => s"n_redact_${p._1}")
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 7 = 0 THEN text || '$PiiPlantSuffix'
         |              ELSE text END AS t
         |  FROM documents),
         |s0 AS (
         |  SELECT doc_id, t, CAST(length(t) AS BIGINT) AS len_raw
         |  FROM planted),
         |${stages.mkString(",\n")}
         |SELECT doc_id, ${counts.mkString(", ")},
         |       ${counts.mkString(" + ")} AS n_redactions, len_raw,
         |       CAST(length(t) AS BIGINT) AS len_clean, t AS clean_text
         |FROM $last ORDER BY doc_id""".stripMargin
    },

    // Twin of Similarity.int8FidelityAudit: per-vector max-abs int8
    // codes (nonneg-numerator floor division — engine-identical), both
    // rankings, the rank-set join, and the integer-quantized error sum.
    "ext93_int8_fidelity" ->
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
         |FROM tot, ova""".stripMargin,

    // Twin of Dedup.topSharedNgrams: distinct (doc, ngram-text) under
    // the position cap, exact df, df>=2, (df DESC, ngram ASC) head.
    "ext94_top_shared_ngrams" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT DISTINCT doc_id,
         |         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS ngram
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |dfq AS (
         |  SELECT ngram, CAST(count(*) AS BIGINT) AS df
         |  FROM pos GROUP BY 1 HAVING count(*) >= 2)
         |SELECT ngram, df FROM dfq
         |ORDER BY df DESC, ngram ASC LIMIT 20""".stripMargin,

    // Twin of Dedup.dupSpanSurgery: positional shingles, per-hash
    // (min, max) keeper stat, 0..n-1 offset coverage, NULL-skipping
    // ordered string_agg reassembly (collect_list drops nulls on the
    // Spark side — same contract).
    "ext96_dup_span_surgery" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |stat AS (
         |  SELECT h, min(doc_id) AS mn, max(doc_id) AS mx
         |  FROM pos GROUP BY h),
         |cut AS (
         |  SELECT DISTINCT p.doc_id, p.i + o AS p
         |  FROM pos p JOIN stat s USING (h), range(0, 3) r(o)
         |  WHERE s.mn <> s.mx AND p.doc_id <> s.mn),
         |tkr AS (
         |  SELECT doc_id, unnest(tk) AS tok,
         |         unnest(range(1, len(tk) + 1)) AS p
         |  FROM toks),
         |j AS (
         |  SELECT t.doc_id, t.p, t.tok, c.p AS cp
         |  FROM tkr t LEFT JOIN cut c ON c.doc_id = t.doc_id AND c.p = t.p)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_toks,
         |       CAST(SUM(CASE WHEN cp IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_toks_cut,
         |       COALESCE(string_agg(CASE WHEN cp IS NULL THEN tok END,
         |         ' ' ORDER BY p), '') AS clean_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Twin of Dedup.decontaminationSurgery: benchmark (doc_id < 20)
    // distinct shingle hashes, corpus positional shingles, every match
    // cuts (no keeper among training docs), ext96's reassembly tail.
    "ext97_decontamination_surgery" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk
         |  FROM documents WHERE doc_id >= 20),
         |btoks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk
         |  FROM documents WHERE doc_id < 20),
         |bh AS (
         |  SELECT DISTINCT
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM btoks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |cut AS (
         |  SELECT DISTINCT p.doc_id, p.i + o AS p
         |  FROM pos p JOIN bh USING (h), range(0, 3) r(o)),
         |tkr AS (
         |  SELECT doc_id, unnest(tk) AS tok,
         |         unnest(range(1, len(tk) + 1)) AS p
         |  FROM toks),
         |j AS (
         |  SELECT t.doc_id, t.p, t.tok, c.p AS cp
         |  FROM tkr t LEFT JOIN cut c ON c.doc_id = t.doc_id AND c.p = t.p)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_toks,
         |       CAST(SUM(CASE WHEN cp IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_toks_cut,
         |       COALESCE(string_agg(CASE WHEN cp IS NULL THEN tok END,
         |         ' ' ORDER BY p), '') AS clean_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Twin of Sketches.countMinAccuracyAudit: per-instance depth-row
    // union builds the counter table with the shared seedA/seedB
    // universal hashes; the probe CASE re-derives each top token's
    // buckets; min over rows is the estimate.
    "ext98_countmin_audit" -> {
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
    },

    // Twin of Dedup.lexicalAgreementAudit: the ext03 candidate chain +
    // 64-bucket feature-hash counts, per-pair sparse dot, quantized
    // fold.
    "ext100_lexical_agreement" ->
      s"""$ShingleSql,
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
         |tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |bu AS (
         |  SELECT doc_id, (${hashSql("tok")}) % 64 AS bucket,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM tok GROUP BY 1, 2),
         |nn AS (SELECT doc_id, CAST(SUM(cnt * cnt) AS BIGINT) AS n2
         |       FROM bu GROUP BY 1),
         |dots AS (
         |  SELECT c.id_a, c.id_b, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS dot
         |  FROM cand c JOIN bu a ON a.doc_id = c.id_a
         |              JOIN bu b ON b.doc_id = c.id_b
         |                AND b.bucket = a.bucket
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT COALESCE(CAST(d.dot AS DOUBLE), 0.0) /
         |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         |           AS cos
         |  FROM cand c LEFT JOIN dots d
         |    ON d.id_a = c.id_a AND d.id_b = c.id_b
         |  JOIN nn na ON na.doc_id = c.id_a
         |  JOIN nn nb ON nb.doc_id = c.id_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(COALESCE(SUM(CASE WHEN cos >= ${
          Dedup.LexicalAgreeThreshold}
         |         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_confirmed,
         |       CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
         |            ELSE (CAST(SUM(CASE WHEN cos >= ${
          Dedup.LexicalAgreeThreshold} THEN 1 ELSE 0 END) AS BIGINT)
         |              * 1000000) // CAST(count(*) AS BIGINT)
         |       END AS confirm_ppm,
         |       CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
         |            ELSE CAST(COALESCE(SUM(CAST(floor(cos * 1000000.0)
         |              AS BIGINT)), 0) AS BIGINT)
         |              // CAST(count(*) AS BIGINT)
         |       END AS mean_cos_q
         |FROM scored""".stripMargin,

    // Twin of Reporting.jsonKeyProfile: the same portable pair/numeric
    // regexes, unnest + fold.
    "ext99_json_key_profile" ->
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
         |FROM kv GROUP BY key ORDER BY key""".stripMargin,

    // Twin of Similarity.normAudit: per-vector quantized norm² off the
    // shared flat CTEs, per-label fold; DuckDB's HUGEINT sum matches
    // the Spark side's DECIMAL(38,0) carry, floor-divided back.
    "ext95_embedding_norm_audit" ->
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
         |FROM v GROUP BY label ORDER BY label""".stripMargin,

    // Twin of LabelAudit.labelCentroidOutliers: per-label floor-
    // quantized centroid (Lloyd's update rule), exact int64 distance,
    // (dist DESC, vec_id ASC) rank within label.
    "ext77_label_centroid_outliers" ->
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
         |FROM rk WHERE rank <= 3 ORDER BY label, rank""".stripMargin,

    "ext78_pack_efficiency" ->
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
        |FROM g ORDER BY ctx""".stripMargin,

    // Same cluster CTE chain as ext27/ext47 (the stored map's SQL
    // mirror); singletons fall out of the LEFT JOIN at weight 1e6.
    "ext79_dedup_weights" ->
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |       FROM cl GROUP BY 1),
         |m AS (SELECT cl.doc_id, sz.n_members
         |      FROM cl JOIN sz USING (cluster_id))
         |SELECT d.doc_id, COALESCE(m.n_members, 1) AS n_members,
         |       CAST(1000000 // COALESCE(m.n_members, 1) AS BIGINT)
         |         AS weight_ppm
         |FROM documents d LEFT JOIN m USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "ext80_oov_rate" ->
      """WITH inst AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |      FROM inst GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
        |             CAST(sum(cnt) AS BIGINT) AS n_instances FROM c),
        |r AS (SELECT c.tok FROM c, t
        |      WHERE c.cnt < n_instances // (10 * n_types))
        |SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |       CAST(sum(CASE WHEN r.tok IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_rare,
        |       CAST((sum(CASE WHEN r.tok IS NOT NULL THEN 1 ELSE 0 END)
        |           * 1000000) // count(*) AS BIGINT) AS oov_ppm
        |FROM inst i LEFT JOIN r ON i.tok = r.tok
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "ext81_snapshot_diff" ->
      """WITH a AS (SELECT DISTINCT md5(text) AS h FROM documents
        |           WHERE doc_id % 2 = 0),
        |b AS (SELECT DISTINCT md5(text) AS h FROM documents
        |      WHERE doc_id % 2 = 1),
        |j AS (SELECT a.h IS NOT NULL AS ia, b.h IS NOT NULL AS ib
        |      FROM a FULL OUTER JOIN b ON a.h = b.h)
        |SELECT CASE WHEN ia AND ib THEN 'both'
        |            WHEN ia THEN 'only_a' ELSE 'only_b' END AS status,
        |       CAST(count(*) AS BIGINT) AS n_texts
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin,

    "ext82_composition_drift" ->
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
        |FROM c, t ORDER BY lang""".stripMargin,

    // Same centroid/distance CTEs as ext77 (the stored artifact's SQL
    // mirror), folded per label instead of ranked per vector.
    "ext83_label_dispersion" ->
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
         |GROUP BY d.label, lcn.cn2 ORDER BY 1""".stripMargin,

    // The ext23 window form of the prefix sum (oracle-only shape) in
    // hash order; the hash·2^32 + doc_id ord mirrors the query.
    "ext86_shuffled_packing" ->
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
         |FROM c GROUP BY 1 ORDER BY chunk_id""".stripMargin,

    // ext32's overlap CTEs + ext20's split hash, folded per split.
    "ext87_contamination_by_split" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |sh_all AS (
         |  SELECT DISTINCT doc_id,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |bench AS (SELECT DISTINCT h FROM sh_all WHERE doc_id < 20),
         |corp AS (SELECT * FROM sh_all WHERE doc_id >= 20),
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM corp GROUP BY 1),
         |shared AS (SELECT doc_id, count(*) AS n_shared
         |           FROM corp JOIN bench USING (h) GROUP BY 1),
         |flags AS (
         |  SELECT d.doc_id,
         |         CAST(CASE WHEN COALESCE(c.n_sh, 0) = 0 THEN 0.0
         |              ELSE CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
         |                   / CAST(c.n_sh AS DOUBLE) END >= 0.8 AS BIGINT)
         |           AS contaminated,
         |         CASE WHEN ${hashSql("'split:' || CAST(d.doc_id AS VARCHAR)")}
         |                % 100 < 90 THEN 'train'
         |              WHEN ${hashSql("'split:' || CAST(d.doc_id AS VARCHAR)")}
         |                % 100 < 95 THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM documents d
         |  LEFT JOIN counts c ON c.doc_id = d.doc_id
         |  LEFT JOIN shared s ON s.doc_id = d.doc_id
         |  WHERE d.doc_id >= 20)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(contaminated) AS BIGINT) AS n_contaminated,
         |       CAST((CAST(sum(contaminated) AS BIGINT) * 1000000)
         |         // CAST(count(*) AS BIGINT) AS BIGINT) AS contam_ppm
         |FROM flags GROUP BY 1 ORDER BY split""".stripMargin,

    // ext71's rule CTEs, folded per source.
    "ext84_gopher_pass_rates" ->
      s"""WITH m AS (
         |  SELECT source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    (CAST(len(replace(text, ' ', '')) AS BIGINT) * 1000)
         |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS mwl_q,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS stop_hits
         |  FROM documents),
         |f AS (
         |  SELECT source,
         |    CAST(CASE WHEN n_toks BETWEEN ${TextOps.GopherMinToks}
         |      AND ${TextOps.GopherMaxToks} THEN 1 ELSE 0 END AS BIGINT)
         |      AS r_len,
         |    CAST(CASE WHEN mwl_q BETWEEN ${TextOps.GopherMinMwlQ}
         |      AND ${TextOps.GopherMaxMwlQ} THEN 1 ELSE 0 END AS BIGINT)
         |      AS r_mwl,
         |    CAST(CASE WHEN stop_hits >= ${TextOps.GopherMinStop}
         |      THEN 1 ELSE 0 END AS BIGINT) AS r_stop
         |  FROM m)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(r_len) AS BIGINT) AS pass_len,
         |  CAST(sum(r_mwl) AS BIGINT) AS pass_mwl,
         |  CAST(sum(r_stop) AS BIGINT) AS pass_stop,
         |  CAST(sum(r_len * r_mwl * r_stop) AS BIGINT) AS pass_all,
         |  CAST((CAST(sum(r_len * r_mwl * r_stop) AS BIGINT) * 1000000)
         |    // CAST(count(*) AS BIGINT) AS BIGINT) AS keep_ppm
         |FROM f GROUP BY 1 ORDER BY source""".stripMargin,

    // Cluster map + the ext47 keeper draw (row_number mirrors the
    // max(struct) argmax: quality DESC, doc_id ASC), with token
    // counts carried through.
    "ext85_dedup_token_savings" ->
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |ql AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |         least(CAST(len(string_split(text, ' ')) AS DOUBLE)
         |               / 100.0, 1.0) * 0.5 +
         |         (CAST(len(list_filter(string_split(text, ' '),
         |            t -> t IN ($stopList))) AS DOUBLE)
         |          / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
         |           AS quality_score
         |  FROM documents),
         |m AS (
         |  SELECT cl.cluster_id, ql.n_toks,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |           ORDER BY ql.quality_score DESC, cl.doc_id ASC) AS rn
         |  FROM cl JOIN ql USING (doc_id)),
         |fam AS (
         |  SELECT cluster_id,
         |         CAST(count(*) AS BIGINT) AS n_members,
         |         CAST(sum(n_toks) AS BIGINT) AS fam_toks,
         |         CAST(sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END)
         |           AS BIGINT) AS kt
         |  FROM m GROUP BY 1),
         |t AS (SELECT CAST(sum(n_toks) AS BIGINT) AS corpus_toks FROM ql)
         |SELECT CAST(count(*) AS BIGINT) AS n_families,
         |       COALESCE(CAST(sum(n_members - 1) AS BIGINT),
         |         CAST(0 AS BIGINT)) AS docs_removed,
         |       COALESCE(CAST(sum(fam_toks - kt) AS BIGINT),
         |         CAST(0 AS BIGINT)) AS tokens_removed,
         |       (SELECT corpus_toks FROM t) AS corpus_toks,
         |       CAST((COALESCE(CAST(sum(fam_toks - kt) AS BIGINT),
         |           CAST(0 AS BIGINT)) * 1000000)
         |         // (SELECT corpus_toks FROM t) AS BIGINT) AS savings_ppm
         |FROM fam""".stripMargin,

    "ext11_text_fingerprint" ->
      s"""WITH tp AS (
         |  SELECT doc_id,
         |         unnest(string_split(text, ' ')) AS tok,
         |         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
         |  FROM documents),
         |rf AS (
         |  SELECT doc_id,
         |         CAST(SUM((${hashSql("tok")} * pos) % $P) % $P AS BIGINT)
         |           AS rolling_fp
         |  FROM tp GROUP BY 1)
         |SELECT d.doc_id, substr(md5(lower(d.text)), 1, 16) AS content_fp,
         |       rf.rolling_fp
         |FROM documents d JOIN rf ON rf.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "ext17_skew_salted" ->
      """SELECT event_type AS entity, count(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS weight_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // DuckDB has a native ASOF JOIN; `>=` matches the rebuild's
    // equal-timestamp-visible semantics.
    "ext18_asof_join" ->
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
        |       coalesce(epoch_us(c.ts), -1) AS click_ts_us,
        |       coalesce(c.value, -1.0) AS click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    // Gaps-and-islands twin of session_window: a 6h-or-more silence
    // starts a new session; session end = last event + gap.
    "ext19_session_agg" ->
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |                (PARTITION BY user_id ORDER BY ts) < 21600000000
        |              THEN 0 ELSE 1 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id AS entity,
        |       min(epoch_us(ts)) AS session_start_us,
        |       max(epoch_us(ts)) + 21600000000 AS session_end_us,
        |       count(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS weight_sum
        |FROM s GROUP BY user_id, sid
        |ORDER BY entity, session_start_us""".stripMargin,

    "ext29_text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (
        |  -- list-function range follows len(tk) exactly (no fixed cap,
        |  -- so no silent divergence from the uncapped Spark operator)
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(tk)),
        |                i -> tk[i] || ' ' || tk[i+1])) AS g
        |  FROM toks),
        |ga AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_2grams,
        |         CAST(count(DISTINCT g) AS BIGINT) AS n_distinct_2grams
        |  FROM g GROUP BY 1),
        |t AS (SELECT doc_id, unnest(tk) AS t FROM toks),
        |tc AS (SELECT doc_id, t, count(*) AS c FROM t GROUP BY 1, 2),
        |ta AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
        |              CAST(MAX(c) AS BIGINT) AS top_tok
        |       FROM tc GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(ga.n_2grams, 0) AS n_2grams,
        |       coalesce(ga.n_distinct_2grams, 0) AS n_distinct_2grams,
        |       CASE WHEN coalesce(ga.n_2grams, 0) = 0 THEN 0.0
        |            ELSE 1.0 - CAST(ga.n_distinct_2grams AS DOUBLE)
        |                       / CAST(ga.n_2grams AS DOUBLE)
        |       END AS dup_2gram_ratio,
        |       CAST(ta.top_tok AS DOUBLE) / CAST(ta.n_toks AS DOUBLE)
        |         AS top_tok_ratio
        |FROM documents d LEFT JOIN ga ON ga.doc_id = d.doc_id
        |     LEFT JOIN ta ON ta.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "ext12_multimodal_meta" ->
      """SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS digest,
        |  lower(hex(substr(text, 1, 8))) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin,

    "ext20_split_assign" ->
      s"""SELECT doc_id,
         |  ${hashSql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    // The oracle recomputes the KMV estimate itself — (k-1)·P is inlined
    // as the identical double literal so the division is bit-for-bit.
    "ext21_kmv_distinct" ->
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
         |ORDER BY entity""".stripMargin,

    // The oracle uses the naive unbinned range join — the binning is an
    // execution strategy, not a semantic; results must be identical.
    "ext22_interval_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us
        |           FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, epoch_us(ts) AS us
        |           FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.us AS ts_us,
        |       count(c.us) AS n_clicks_1h
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        |  AND c.us >= p.us - 3600000000 AND c.us < p.us
        |GROUP BY 1, 2, 3
        |ORDER BY p.event_id""".stripMargin,

    "ext23_pack_chunks" ->
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
        |FROM c ORDER BY doc_id""".stripMargin,

    "ext30_pack_segments" ->
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
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    // Same score/quantile math as ext24 (proven interpolation parity);
    // the filter compares two identically-derived doubles.
    "ext67_quantile_filter" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |    least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |      (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
         |      AS quality_score
         |  FROM documents),
         |t AS (SELECT lang, quantile_cont(quality_score, 0.5) AS p50
         |      FROM q GROUP BY 1)
         |SELECT q.doc_id, q.lang
         |FROM q JOIN t USING (lang)
         |WHERE q.quality_score >= t.p50
         |ORDER BY q.doc_id""".stripMargin,

    "ext24_quality_quantiles" ->
      s"""WITH q AS (
         |  SELECT lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |    least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |      (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
         |      AS quality_score
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |       quantile_cont(quality_score, 0.25) AS p25,
         |       quantile_cont(quality_score, 0.5) AS p50,
         |       quantile_cont(quality_score, 0.9) AS p90
         |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same quality formula as ext24, but quantiles over the hash-rank
    // sample — quantile_cont matches Spark's percentile interpolation.
    "ext33_sampled_quantiles" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |    least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |      (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
         |      AS quality_score
         |  FROM documents),
         |h AS (SELECT doc_id, lang, quality_score,
         |        ${hashSql("'qs:' || CAST(doc_id AS VARCHAR)")} AS h
         |      FROM q),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY lang ORDER BY h, doc_id) AS rank FROM h)
         |SELECT lang, count(*) AS n_sampled,
         |       quantile_cont(quality_score, 0.25) AS p25,
         |       quantile_cont(quality_score, 0.5) AS p50,
         |       quantile_cont(quality_score, 0.9) AS p90
         |FROM r WHERE rank <= 100 GROUP BY 1 ORDER BY 1""".stripMargin,

    "ext38_tfidf_topk" ->
      """WITH tfc AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT t.doc_id, t.term, t.tf,
        |         t.tf * CAST(floor(1000000.0 * (CAST(n.n_docs AS DOUBLE)
        |                / CAST(d.df AS DOUBLE))) AS BIGINT) AS score
        |  FROM tfc t JOIN dfc d USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, term ASC)
        |        AS rank FROM sc)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score,
        |       CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "ext39_weighted_sample" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |         CAST(${hashSql("'wsamp:' || CAST(doc_id AS VARCHAR)")}
         |              AS DOUBLE) / CAST(n_chars AS DOUBLE) AS pri
         |  FROM documents),
         |r AS (SELECT doc_id, lang, source, row_number() OVER (
         |        PARTITION BY lang ORDER BY pri, doc_id) AS rank FROM h)
         |SELECT doc_id, lang, source, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 50 ORDER BY lang, rank""".stripMargin,

    "ext40_inverted_index" ->
      """WITH pr0 AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |pairs AS (SELECT DISTINCT doc_id, term FROM pr0)
        |SELECT term, count(*) AS df,
        |       array_to_string(list_sort(list(doc_id))[1:20], ',')
        |         AS postings
        |FROM pairs GROUP BY 1 ORDER BY term""".stripMargin,

    "ext41_bigram_stats" ->
      """WITH bg0 AS (
        |  SELECT unnest(tk[1:len(tk)-1]) AS t1, unnest(tk[2:len(tk)]) AS t2
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents)),
        |c AS (SELECT t1, t2, count(*) AS c FROM bg0 GROUP BY 1, 2),
        |p AS (SELECT t1, CAST(SUM(c) AS BIGINT) AS ct FROM c GROUP BY 1)
        |SELECT c.t1, c.t2, c.c,
        |       CAST(floor(1000000.0 * (CAST(c.c AS DOUBLE)
        |            / CAST(p.ct AS DOUBLE))) AS BIGINT) AS p_q
        |FROM c JOIN p USING (t1)
        |ORDER BY c.c DESC, c.t1, c.t2 LIMIT 200""".stripMargin,

    "ext42_lm_quality" ->
      """WITH bg AS (
        |  SELECT doc_id, unnest(tk[1:len(tk)-1]) AS t1,
        |         unnest(tk[2:len(tk)]) AS t2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents)),
        |c AS (SELECT t1, t2, count(*) AS c FROM bg GROUP BY 1, 2),
        |p AS (SELECT t1, CAST(SUM(c) AS BIGINT) AS ct FROM c GROUP BY 1),
        |lm AS (
        |  SELECT c.t1, c.t2,
        |         CAST(floor(1000000.0 * (CAST(c.c AS DOUBLE)
        |              / CAST(p.ct AS DOUBLE))) AS BIGINT) AS p_q
        |  FROM c JOIN p USING (t1)),
        |s AS (
        |  SELECT bg.doc_id, count(*) AS n_bigrams,
        |         CAST(SUM(lm.p_q) AS BIGINT) AS sum_pq
        |  FROM bg JOIN lm USING (t1, t2) GROUP BY 1)
        |SELECT d.doc_id,
        |       COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(s.sum_pq // s.n_bigrams, 0) AS lm_q,
        |       CAST(CASE WHEN COALESCE(s.sum_pq // s.n_bigrams, 0) >= 34500
        |            THEN 1 ELSE 0 END AS BIGINT) AS fluent
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "ext46_span_corruption" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS pos
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
         |        FROM documents)),
         |f AS (
         |  SELECT doc_id, pos, tok,
         |         (${hashSql("'mask:' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)")} % 1000) < 150 AS m
         |  FROM toks),
         |mk AS (
         |  SELECT doc_id, pos, tok,
         |         pos - row_number() OVER (PARTITION BY doc_id
         |                                  ORDER BY pos) AS grp
         |  FROM f WHERE m),
         |sp AS (
         |  SELECT doc_id, pos, tok, grp,
         |         dense_rank() OVER (PARTITION BY doc_id ORDER BY grp) - 1
         |           AS span,
         |         row_number() OVER (PARTITION BY doc_id, grp
         |                            ORDER BY pos) = 1 AS first
         |  FROM mk),
         |inrows AS (
         |  SELECT doc_id, pos, 0 AS sub, tok AS out FROM f WHERE NOT m
         |  UNION ALL
         |  SELECT doc_id, pos, 0, '<X' || CAST(span AS VARCHAR) || '>'
         |  FROM sp WHERE first),
         |trows AS (
         |  SELECT doc_id, pos, 0 AS sub,
         |         '<X' || CAST(span AS VARCHAR) || '>' AS out
         |  FROM sp WHERE first
         |  UNION ALL
         |  SELECT doc_id, pos, 1, tok FROM sp),
         |inp AS (SELECT doc_id, string_agg(out, ' ' ORDER BY pos, sub)
         |          AS input_text FROM inrows GROUP BY 1),
         |tgt AS (SELECT doc_id, string_agg(out, ' ' ORDER BY pos, sub)
         |          AS target_text FROM trows GROUP BY 1),
         |st AS (SELECT doc_id, count(*) AS n_tokens,
         |              CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
         |                AS n_masked
         |       FROM f GROUP BY 1),
         |ns AS (SELECT doc_id, count(*) AS n_spans FROM sp
         |       WHERE first GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(inp.input_text, '') AS input_text,
         |       COALESCE(tgt.target_text, '') AS target_text,
         |       COALESCE(st.n_tokens, 0) AS n_tokens,
         |       COALESCE(st.n_masked, 0) AS n_masked,
         |       COALESCE(ns.n_spans, 0) AS n_spans
         |FROM documents d
         |LEFT JOIN inp USING (doc_id) LEFT JOIN tgt USING (doc_id)
         |LEFT JOIN st USING (doc_id) LEFT JOIN ns USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "ext48_corpus_cube" ->
      """SELECT COALESCE(lang, '(all)') AS lang,
        |       COALESCE(source, '(all)') AS source,
        |       count(*) AS n_docs,
        |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |         AS n_tokens
        |FROM documents
        |GROUP BY CUBE (lang, source)
        |ORDER BY 1, 2""".stripMargin,

    "ext44_mixture_weights" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
        |           GROUP BY 1),
        |q AS (SELECT lang, n_docs,
        |             CAST(floor(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)))
        |               AS BIGINT) AS q_s
        |      FROM c),
        |t AS (SELECT CAST(SUM(q_s) AS BIGINT) AS q_tot FROM q)
        |SELECT lang, n_docs, q_s,
        |       CAST(floor(1000000.0 * (CAST(q_s AS DOUBLE)
        |            / CAST(q_tot AS DOUBLE))) AS BIGINT) AS weight_q
        |FROM q, t ORDER BY lang""".stripMargin,

    "ext45_temperature_resample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
         |           GROUP BY 1),
         |q AS (SELECT lang, n_docs,
         |             CAST(floor(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)))
         |               AS BIGINT) AS q_s
         |      FROM c),
         |t AS (SELECT CAST(SUM(q_s) AS BIGINT) AS q_tot FROM q),
         |w AS (SELECT lang, n_docs,
         |             CAST(floor(1000000.0 * (CAST(q_s AS DOUBLE)
         |                  / CAST(q_tot AS DOUBLE))) AS BIGINT) AS weight_q
         |      FROM q, t),
         |r AS (SELECT lang, least(1000000, (250 * weight_q) // n_docs)
         |               AS rate_q
         |      FROM w)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN r USING (lang)
         |WHERE ${hashSql("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000
         |        < r.rate_q
         |ORDER BY d.doc_id""".stripMargin,

    "ext43_random_projection" ->
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
         |FROM projs GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "ext34_vocab_topk" ->
      """SELECT term, count(*) AS tf
        |FROM (SELECT unnest(string_split(text, ' ')) AS term
        |      FROM documents)
        |GROUP BY 1 ORDER BY tf DESC, term ASC LIMIT 500""".stripMargin,

    "ext25_stratified_sample" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, source,
         |         ${hashSql("'samp:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |r AS (SELECT doc_id, lang, source, row_number() OVER (
         |        PARTITION BY lang, source ORDER BY h, doc_id) AS rank
         |      FROM h)
         |SELECT doc_id, lang, source, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 20 ORDER BY lang, source, rank""".stripMargin,

    // The oracle replays both Lloyd's rounds CTE-by-CTE — possible only
    // because every step is integer-exact or a single floor'd division.
    "ext28_kmeans_buckets" -> kmeansSql(8, 2),

    // kmeans-IVF: the same Lloyd's CTEs feed the bucket restriction of
    // the cosine top-k (a3 = assignment after 2 rounds).
    "ext31_kmeans_ivf" -> cosTopKSql(
      """JOIN a3 ba ON ba.vec_id = a.vec_id
        |       JOIN a3 bb ON bb.vec_id = b.vec_id AND bb.cid = ba.cid""".stripMargin,
      3, kmeansCtes(8, 2)),

    "ext50_leak_spans" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |pos_sh AS (
         |  SELECT doc_id, i AS pos,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |bench AS (SELECT DISTINCT h FROM pos_sh WHERE doc_id < 20),
         |corp AS (SELECT * FROM pos_sh WHERE doc_id >= 20),
         |leaks AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_leaked,
         |         array_to_string(list(pos ORDER BY pos), ',')
         |           AS leak_positions
         |  FROM corp JOIN bench USING (h) GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(l.n_leaked, 0) AS n_leaked,
         |       COALESCE(l.leak_positions, '') AS leak_positions
         |FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
         |LEFT JOIN leaks l USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Same transitive closure as the ext27 oracle; unclustered docs fall
    // back to their own id, reproducing the ext20 assignment bit-exactly.
    "ext51_leakage_safe_split" ->
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
         |FROM k ORDER BY doc_id""".stripMargin,

    // Same shard draw as ext52; checksum is a commutative integer sum of
    // portable content hashes, so both engines aggregate it in any order.
    "ext63_shard_manifest" ->
      s"""WITH h AS (
         |  SELECT doc_id, text,
         |         ${hashSql("'shard:' || CAST(doc_id AS VARCHAR)")} % 8
         |           AS shard
         |  FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(${hashSql("text")}) AS BIGINT) AS checksum
         |FROM h GROUP BY shard ORDER BY shard""".stripMargin,

    // Same transitive closure as the ext27/ext51 oracles; the report
    // tail aggregates cluster sizes and cross-joins the 1-row corpus
    // total (empty-graph edges coalesce to 0 on both sides).
    "ext64_dup_stats" ->
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
         |FROM agg, t""".stripMargin,

    // Distinct per-doc shingles under the ext50 position cap; df==1
    // marks corpus-unique shingles; short docs keep 0 rows via the
    // left join.
    "ext69_novelty" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |s AS (
         |  SELECT DISTINCT doc_id,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |df AS (SELECT h, count(*) AS df FROM s GROUP BY 1),
         |per AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |         CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_unique
         |  FROM s JOIN df USING (h) GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(p.n_shingles, 0) AS n_shingles,
         |       COALESCE(p.n_unique, 0) AS n_unique,
         |       CASE WHEN COALESCE(p.n_shingles, 0) = 0
         |            THEN CAST(0 AS BIGINT)
         |            ELSE (p.n_unique * 1000000) // p.n_shingles END
         |         AS novelty_q
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // Distinct per-source shingles under the same per-doc position cap
    // as ext50; the kdf cap mirrors Dedup.keyOverlap's maxKeyFreq.
    "ext68_source_overlap" ->
      s"""WITH toks AS (SELECT source, string_split(text, ' ') AS tk
         |             FROM documents),
         |shk AS (
         |  SELECT DISTINCT source,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |keep AS (SELECT h FROM (
         |  SELECT h, count(*) AS kdf FROM shk GROUP BY 1)
         |  WHERE kdf <= 50),
         |k AS (SELECT shk.* FROM shk JOIN keep USING (h)),
         |sizes AS (SELECT source, count(*) AS n FROM k GROUP BY 1),
         |p AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         count(*) AS n_shared
         |  FROM k a JOIN k b USING (h)
         |  WHERE a.source <> b.source GROUP BY 1, 2)
         |SELECT source_a, source_b,
         |       CAST(n_shared AS BIGINT) AS n_shared,
         |       (CAST(n_shared AS BIGINT) * 1000000) // CAST(s.n AS BIGINT)
         |         AS containment_q
         |FROM p JOIN sizes s ON s.source = p.source_a
         |ORDER BY source_a, source_b""".stripMargin,

    // The card's corpus fields all derive from one (lang, source)
    // grouped CTE; the redundancy term replays the cluster closure.
    "ext66_data_card" ->
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
         |FROM base, ts, ca""".stripMargin,

    "ext52_shard_assign" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         ${hashSql("'shard:' || CAST(doc_id AS VARCHAR)")} AS draw
         |  FROM documents)
         |SELECT doc_id, draw % 8 AS shard,
         |       CAST(row_number() OVER (PARTITION BY draw % 8
         |         ORDER BY draw, doc_id) AS BIGINT) AS seq
         |FROM h ORDER BY doc_id""".stripMargin,

    // Truth = the suffixed brute-force ranking, candidates = the same
    // chain restricted to the kmeans-IVF bucket (a3 = ext31's learned
    // assignment); recall quantized to int64 so the compare is exact.
    "ext57_ivf_recall" ->
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |${cosTopKCtes("_t", "")},
         |truth AS (SELECT q_id, t_id FROM r_t WHERE rank <= 3),
         |${cosTopKCtes("_c",
          """JOIN a3 ba ON ba.vec_id = a.vec_id
            |       JOIN a3 bb ON bb.vec_id = b.vec_id AND bb.cid = ba.cid"""
            .stripMargin)},
         |cand AS (SELECT q_id, t_id FROM r_c WHERE rank <= 3),
         |$recallTailSql""".stripMargin,

    // As ext57 but the query side probes its p closest centroids for
    // each p on the curve (pmax = the rank-<=max assignment over the
    // same final distances d3); one ranked candidate chain per p, one
    // recall row per p, UNION ALL'd into the curve table.
    "ext58_ivf_multiprobe_recall" ->
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
         |ORDER BY probes""".stripMargin,

    // Bucket histogram off the same final k-means assignment (a3);
    // the imbalance tail is pure integer arithmetic on both engines.
    "ext60_ivf_balance" ->
      s"""$QuantFlatSql,
         |${kmeansCtes(8, 2)},
         |b AS (SELECT cid, count(*) AS cnt FROM a3 GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(SUM(cnt) AS BIGINT) AS n_vectors,
         |       CAST(max(cnt) AS BIGINT) AS max_bucket,
         |       CAST(min(cnt) AS BIGINT) AS min_bucket,
         |       (CAST(max(cnt) AS BIGINT) * CAST(count(*) AS BIGINT)
         |         * 1000000) // CAST(SUM(cnt) AS BIGINT) AS imbalance_q
         |FROM b""".stripMargin,

    // Same weight CTEs as ext44 (shared sqrt-temperature math) plus the
    // fused token count; the budget/epoch tail is exact int64 division
    // on both engines.
    "ext62_token_ledger" ->
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_docs,
         |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
         |           AS n_tokens
         |  FROM documents GROUP BY 1),
         |q AS (SELECT source, n_docs, n_tokens,
         |             CAST(floor(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)))
         |               AS BIGINT) AS q_s
         |      FROM c),
         |t AS (SELECT CAST(SUM(q_s) AS BIGINT) AS q_tot FROM q),
         |w AS (SELECT source, n_docs, n_tokens, q_s,
         |             CAST(floor(1000000.0 * (CAST(q_s AS DOUBLE)
         |                  / CAST(q_tot AS DOUBLE))) AS BIGINT) AS weight_q
         |      FROM q, t)
         |SELECT source, n_docs, n_tokens, q_s, weight_q,
         |       (CAST($TokenBudget AS BIGINT) * weight_q) // 1000000
         |         AS planned_tokens,
         |       CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
         |            ELSE (((CAST($TokenBudget AS BIGINT) * weight_q)
         |                   // 1000000) * 1000000) // n_tokens END
         |         AS epochs_q
         |FROM w ORDER BY source""".stripMargin,

    // Integer-exact buckets (length of the binary representation), exact
    // integer ceiling division, and a left-shift upper bound — no IEEE
    // log anywhere, so the estimates compare bit-for-bit.
    "ext56_hist_quantiles" ->
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
        |FROM p ORDER BY lang""".stripMargin,

    // string_agg skips the NULLed-out hot chunks and orders by position;
    // a fully-boilerplate doc keeps its row with '' text.
    // range(0, MaxChunksPerDoc) mirrors the operator-side chunk cap
    // (shared constant; r5 ADVICE).
    "ext59_boilerplate" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |c AS (
         |  SELECT doc_id, k,
         |         least(k * 16 + 16, len(tk)) AS tok_end, len(tk) AS n_toks,
         |         array_to_string(tk[k * 16 + 1 : k * 16 + 16], ' ')
         |           AS chunk
         |  FROM toks JOIN range(0, ${TextOps.MaxChunksPerDoc}) g(k)
         |    ON len(tk) > 0
         |   AND k <= CAST(ceil(CAST(greatest(len(tk) - 16, 0) AS DOUBLE)
         |                      / 16) AS BIGINT)),
         |ch AS (SELECT doc_id, k, chunk, tok_end, n_toks,
         |              ${hashSql("chunk")} AS h FROM c),
         |hot AS (SELECT h FROM (
         |  SELECT h, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
         |  WHERE df > 1),
         |m AS (
         |  SELECT doc_id, k, chunk, tok_end, n_toks,
         |         CASE WHEN h IN (SELECT h FROM hot) THEN 1 ELSE 0 END
         |           AS hot
         |  FROM ch)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(SUM(hot) AS BIGINT) AS n_dropped,
         |       CAST(max(n_toks) - max(tok_end) AS BIGINT)
         |         AS n_toks_dropped,
         |       COALESCE(string_agg(CASE WHEN hot = 0 THEN chunk END,
         |                           ' ' ORDER BY k), '') AS clean_text
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same position hashes and 4000-position cap as the ext50 oracle;
    // tail windows dropped via the per-doc position count.
    "ext55_winnowing" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |ph AS (
         |  SELECT doc_id, i AS p,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |wmin AS (
         |  SELECT doc_id, p,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY p
         |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |         count(*) OVER (PARTITION BY doc_id) AS m
         |  FROM ph)
         |SELECT DISTINCT doc_id, fp
         |FROM wmin WHERE p <= greatest(1, m - 3)
         |ORDER BY doc_id, fp""".stripMargin,

    // Truth = the ext02 jaccard chain at 0.5; candidates = the ext03
    // band chain; recall quantized to int64 so the compare is exact.
    "ext54_lsh_recall" ->
      s"""$lshDetectorCtes,
         |m AS (
         |  SELECT CASE WHEN c.id_a IS NULL THEN NULL ELSE 1 END AS hit
         |  FROM truth t LEFT JOIN cand c
         |    ON t.id_a = c.id_a AND t.id_b = c.id_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_true,
         |       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_detected,
         |       CAST(COALESCE(floor(1000000.0 * (CAST(SUM(hit) AS DOUBLE)
         |            / CAST(count(*) AS DOUBLE))), 0) AS BIGINT)
         |         AS recall_q
         |FROM m""".stripMargin,

    // The precision half of the same audit: candidates left-joined to
    // the exact truth — identical detector CTEs, roles swapped in the
    // tail (Dedup.pairPrecision's SQL twin).
    "ext61_lsh_precision" ->
      s"""$lshDetectorCtes,
         |m AS (
         |  SELECT CASE WHEN t.id_a IS NULL THEN NULL ELSE 1 END AS hit
         |  FROM cand c LEFT JOIN truth t
         |    ON c.id_a = t.id_a AND c.id_b = t.id_b)
         |SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         |       CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hits,
         |       CAST(COALESCE(floor(1000000.0 * (CAST(SUM(hit) AS DOUBLE)
         |            / CAST(count(*) AS DOUBLE))), 0) AS BIGINT)
         |         AS precision_q
         |FROM m""".stripMargin,

    // chunk k covers [k*24 + 1, k*24 + 32] (stride 24 = 32 - 8 overlap);
    // both engines' slices are 1-based and clamp at the array end.
    // range(0, MaxChunksPerDoc) mirrors the operator-side per-doc chunk
    // cap — the bound lives on BOTH sides (r5 ADVICE).
    "ext53_chunk_overlap" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
        |             FROM documents)
        |SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
        |       CAST(k * 24 + 1 AS BIGINT) AS tok_start,
        |       CAST(least(k * 24 + 32, len(tk)) AS BIGINT) AS tok_end,
        |       CAST(len(tk) AS BIGINT) AS n_toks,
        |       array_to_string(tk[k * 24 + 1 : k * 24 + 32], ' ')
        |         AS chunk_text
        |FROM toks JOIN range(0, ${TextOps.MaxChunksPerDoc}) g(k)
        |  ON len(tk) > 0
        | AND k <= CAST(ceil(CAST(greatest(len(tk) - 32, 0) AS DOUBLE)
        |                    / 24) AS BIGINT)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "ext32_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |sh_all AS (
         |  SELECT DISTINCT doc_id,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, 4001) g(i) ON i <= len(tk) - 2),
         |bench AS (SELECT DISTINCT h FROM sh_all WHERE doc_id < 20),
         |corp AS (SELECT * FROM sh_all WHERE doc_id >= 20),
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM corp GROUP BY 1),
         |shared AS (SELECT doc_id, count(*) AS n_shared
         |           FROM corp JOIN bench USING (h) GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(c.n_sh, 0) AS n_sh,
         |       COALESCE(s.n_shared, 0) AS n_shared,
         |       CASE WHEN COALESCE(c.n_sh, 0) = 0 THEN 0.0
         |            ELSE CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
         |                 / CAST(c.n_sh AS DOUBLE) END AS overlap_frac,
         |       CAST(CASE WHEN COALESCE(c.n_sh, 0) = 0 THEN 0.0
         |            ELSE CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
         |                 / CAST(c.n_sh AS DOUBLE) END >= 0.8 AS BIGINT)
         |         AS contaminated
         |FROM documents d
         |LEFT JOIN counts c ON c.doc_id = d.doc_id
         |LEFT JOIN shared s ON s.doc_id = d.doc_id
         |WHERE d.doc_id >= 20
         |ORDER BY d.doc_id""".stripMargin,

    // The oracle computes the same transitive closure with a recursive
    // CTE (min label reachable over the undirected pair graph) — exact
    // but driver-style; the Spark operator is the per-round-shuffle
    // iterative form that scales.
    "ext27_dedup_clusters" ->
      s"""WITH RECURSIVE $clusterCtes
         |SELECT id AS doc_id, min(label) AS cluster_id
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    "ext47_quality_keeper" ->
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |ql AS (
         |  SELECT doc_id,
         |         least(CAST(len(string_split(text, ' ')) AS DOUBLE)
         |               / 100.0, 1.0) * 0.5 +
         |         (CAST(len(list_filter(string_split(text, ' '),
         |            t -> t IN ($stopList))) AS DOUBLE)
         |          / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
         |           AS quality_score
         |  FROM documents),
         |m AS (
         |  SELECT cl.cluster_id, cl.doc_id, ql.quality_score,
         |         row_number() OVER (PARTITION BY cl.cluster_id
         |           ORDER BY ql.quality_score DESC, cl.doc_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
         |  FROM cl JOIN ql USING (doc_id))
         |SELECT cluster_id, doc_id AS keeper_id,
         |       CAST(n_members AS BIGINT) AS n_members,
         |       quality_score AS keeper_quality
         |FROM m WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    // Bucketing is a layout strategy, not a semantic: the oracle is the
    // plain join over the original parquet.
    "ext26_bucketed_join" ->
      """SELECT o_orderkey, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |         AS sum_price
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // SemDeDup: the same Lloyd's CTEs as ext28 give the buckets; the
    // drop test is the paper's upper-triangular max-sim convention
    // (exists lower-id cluster-mate with cos >= threshold).
    "ext101_semdedup" ->
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
         |ORDER BY b.vec_id""".stripMargin,

    // Bloom decontamination card: same shingle relation as ext32; bit
    // positions are the shared universal-hash family mod m, the probe
    // is "all k positions set".
    "ext102_bloom_decontaminate" -> {
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
    },

    // Cap card: the kept set is the rank <= 15 prefix of the ext25
    // hash order, per source.
    "ext103_source_cap_audit" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS tok,
         |         ${hashSql("'samp:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY source ORDER BY h, doc_id) AS rank FROM t),
         |agg AS (
         |  SELECT source,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(tok) AS BIGINT) AS tokens_total,
         |         CAST(SUM(CASE WHEN rank <= 15 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_kept,
         |         CAST(SUM(CASE WHEN rank <= 15 THEN tok ELSE 0 END)
         |           AS BIGINT) AS tokens_kept
         |  FROM r GROUP BY 1)
         |SELECT source, n_docs, tokens_total, n_kept, tokens_kept,
         |       n_docs - n_kept AS docs_dropped,
         |       CAST(CASE WHEN tokens_total = 0 THEN 0
         |            ELSE ((tokens_total - tokens_kept) * 1000000)
         |                 // tokens_total END AS BIGINT)
         |         AS tokens_dropped_ppm
         |FROM agg ORDER BY source""".stripMargin,

    // Twin of TextOps.normalizeText: lower → non-alnum to space →
    // collapse runs → trim (DuckDB regexp_replace needs the 'g' flag
    // for replace-all; Spark replaces all by default).
    "ext104_normalization_dups" ->
      """SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_raw,
        |       CAST(count(DISTINCT md5(trim(regexp_replace(
        |           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |           ' +', ' ', 'g')))) AS BIGINT) AS distinct_norm,
        |       CAST(count(DISTINCT md5(text))
        |            - count(DISTINCT md5(trim(regexp_replace(
        |           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |           ' +', ' ', 'g')))) AS BIGINT) AS norm_gain,
        |       CAST(((count(DISTINCT md5(text))
        |            - count(DISTINCT md5(trim(regexp_replace(
        |           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |           ' +', ' ', 'g'))))) * 1000000)
        |           // count(DISTINCT md5(text)) AS BIGINT) AS gain_ppm
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,

    "ext105_vocab_overlap" ->
      """WITH inst AS (
        |  SELECT lang AS g, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnt AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS cnt
        |        FROM inst GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS tot
        |        FROM cnt GROUP BY 1),
        |p AS (SELECT c.g, c.tok, (c.cnt * 1000000) // t.tot AS ppm
        |      FROM cnt c JOIN tot t USING (g))
        |SELECT a.g AS g_a, b.g AS g_b,
        |       CAST(count(*) AS BIGINT) AS shared_types,
        |       CAST(SUM(LEAST(a.ppm, b.ppm)) AS BIGINT) AS overlap_ppm,
        |       CAST(1000000 - SUM(LEAST(a.ppm, b.ppm)) AS BIGINT)
        |         AS tv_ppm
        |FROM p a JOIN p b ON a.tok = b.tok AND a.g < b.g
        |GROUP BY 1, 2 ORDER BY g_a, g_b""".stripMargin,

    // Gopher repetition block: hash-identified n-grams for n in 2..10
    // under the shingle cap; top coverage = max count × n, dup
    // coverage = distinct positions under any ≥2-count n-gram.
    "ext106_gopher_repetition" -> {
      val wideCols = (2 to 10).map(n =>
        s"max(CASE WHEN n = $n THEN cov END) AS c$n").mkString(",\n  |  ")
      val outCols = ((2 to 4).map(n => n -> s"top${n}_ppm") ++
        (5 to 10).map(n => n -> s"dup${n}_ppm")).map { case (n, name) =>
        s"CAST((COALESCE(w.c$n, 0) * 1000000) // len(string_split(d.text, ' ')) AS BIGINT) AS $name"
      }.mkString(",\n  |  ")
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |             FROM documents),
         |inst AS (
         |  SELECT doc_id, n.n, g.i,
         |         ${hashSql("array_to_string(tk[g.i:g.i+n.n-1], ' ')")} AS h
         |  FROM toks, range(2, 11) n(n), range(1, 4001) g(i)
         |  WHERE g.i <= len(tk) - n.n + 1),
         |cnts AS (SELECT doc_id, n, h, count(*) AS c
         |         FROM inst GROUP BY 1, 2, 3),
         |top AS (SELECT doc_id, n, max(c) * n AS cov
         |        FROM cnts WHERE n <= 4 GROUP BY 1, 2),
         |dupp AS (
         |  SELECT DISTINCT i.doc_id, i.n, i.i + o.o AS p
         |  FROM inst i, cnts c, range(0, 10) o(o)
         |  WHERE c.doc_id = i.doc_id AND c.n = i.n AND c.h = i.h
         |    AND i.n >= 5 AND c.c >= 2 AND o.o < i.n),
         |dupc AS (SELECT doc_id, n, count(*) AS cov
         |         FROM dupp GROUP BY 1, 2),
         |covs AS (SELECT * FROM top UNION ALL SELECT * FROM dupc),
         |wide AS (
         |  SELECT doc_id,
         |  $wideCols
         |  FROM covs GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
         |  $outCols
         |FROM documents d LEFT JOIN wide w USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    // PQ fidelity: the shared ADC chain (m-keyed Lloyd's — all 4
    // subspace codebooks in one pass per round, mirroring
    // Similarity.pqCodebooks — LUT, ADC scores, ranked), then the
    // ext93 audit tail.
    "ext107_pq_fidelity" -> {
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
    },

    // Rerank recall: the same ADC chain; candidates = rpq rank <= 20,
    // re-ranked by the EXACT cosine (scored_f), then the shared
    // recall tail against the exact top-3 truth.
    "ext108_pq_rerank_recall" ->
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
         |$recallTailSql""".stripMargin,

    // SemDeDup recall: ext101's kmeans buckets; truth = exact all-pairs
    // cosine >= threshold, cand = truth restricted to shared buckets.
    "ext109_semdedup_recall" ->
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
         |$recallTailSql""".stripMargin,

    // SemDeDup probe curve: ext109's truth; candP = true pairs whose
    // p-probe bucket sets intersect (pmax = the multi-probe ranks off
    // the same Lloyd's distances as ext58).
    "ext110_semdedup_probe_curve" ->
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
         |ORDER BY probes""".stripMargin,

    // Probed SemDeDup operator: ext101's drop rule with the pair test
    // widened to any shared bucket among each side's 2 nearest (pmax
    // ranks off the same Lloyd's distances); output under the home
    // (rn=1) bucket.
    "ext129_semdedup_probed" ->
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
         |ORDER BY h.vec_id""".stripMargin,

    "ext131_soft_dedup_ledger" ->
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |       FROM cl GROUP BY 1),
         |m AS (SELECT cl.doc_id, sz.n_members
         |      FROM cl JOIN sz USING (cluster_id)),
         |w AS (SELECT d.doc_id, d.source,
         |             CAST(len(string_split(d.text, ' ')) AS BIGINT)
         |               AS n_toks,
         |             CAST(1000000 // COALESCE(m.n_members, 1) AS BIGINT)
         |               AS weight_ppm
         |      FROM documents d LEFT JOIN m USING (doc_id)),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(n_toks) AS BIGINT) AS raw_toks,
         |             CAST(sum(n_toks * weight_ppm) AS BIGINT) AS wsum
         |      FROM w GROUP BY 1)
         |SELECT source, n_docs, raw_toks,
         |       CAST(wsum // 1000000 AS BIGINT) AS eff_toks,
         |       CAST(((raw_toks - (wsum // 1000000)) * 1000000)
         |            // raw_toks AS BIGINT) AS downweight_ppm
         |FROM a ORDER BY source""".stripMargin,

    // The oracle recomputes the HLL registers from the same portable
    // hash and the estimate from the same single-literal numerator; the
    // scaled harmonic sum (every addend 2^(24-rho) a whole number) is
    // integer-exact, so register state AND estimate both hash-compare.
    "ext132_hll_distinct" ->
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
         |ORDER BY entity""".stripMargin,

    // Same integer arithmetic: bucket = whole half-lives of age, weight
    // = 1 << (29 - bucket), score = exact int64 sum — the oracle replays
    // the decayed ranking bit-for-bit.
    "ext133_decayed_trend" ->
      """WITH tref AS (SELECT max(epoch_us(ts)) AS tref_us FROM events),
        |h AS (SELECT event_type AS part, user_id AS entity,
        |        greatest(tref_us - epoch_us(ts), 0) // 86400000000
        |          AS age_bucket
        |      FROM events, tref),
        |s AS (SELECT part, entity,
        |        CAST(sum(CAST(1 AS BIGINT) << CAST(29 - age_bucket AS INT))
        |             AS BIGINT) AS decayed_scaled,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM h WHERE age_bucket < 30 GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY part
        |          ORDER BY decayed_scaled DESC, entity) AS BIGINT) AS rank
        |      FROM s)
        |SELECT part, entity, decayed_scaled, n_events, rank
        |FROM r WHERE rank <= 10 ORDER BY part, rank""".stripMargin,

    // Same symmetrized adjacency graph, vertex floor, and three
    // unrolled power-iteration rounds with identical integer
    // truncation points.
    "ext145_textrank" -> {
      val iters = 3
      val damp = 85
      val rounds = (1 to iters).map { i =>
        val p = s"r${i - 1}"
        s"""c$i AS (SELECT ew.dst,
           |         CAST(SUM((${p}.r * ew.w) // ew.wout) AS BIGINT) AS cs
           |       FROM ew JOIN $p ON ${p}.v = ew.src GROUP BY 1),
           |r$i AS (SELECT ${p}.v,
           |         CAST((${100 - damp} * 1000000 +
           |               $damp * COALESCE(c$i.cs, 0)) // 100 AS BIGINT)
           |           AS r
           |       FROM $p LEFT JOIN c$i ON c$i.dst = ${p}.v),
           |""".stripMargin
      }.mkString
      s"""WITH bg AS (
         |  SELECT unnest(tk[1:len(tk)-1]) AS t1,
         |         unnest(tk[2:len(tk)]) AS t2
         |  FROM (SELECT string_split(text, ' ') AS tk FROM documents)),
         |pr AS (SELECT t1 AS src, t2 AS dst FROM bg WHERE t1 <> t2
         |       UNION ALL
         |       SELECT t2 AS src, t1 AS dst FROM bg WHERE t1 <> t2),
         |aw AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |       FROM pr GROUP BY 1, 2),
         |kp AS (SELECT src FROM (SELECT src, SUM(w) AS w0 FROM aw
         |                        GROUP BY 1) WHERE w0 >= 5),
         |e2 AS (SELECT aw.src, aw.dst, aw.w
         |       FROM aw JOIN kp USING (src)
         |            JOIN kp k2 ON k2.src = aw.dst),
         |dg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout
         |       FROM e2 GROUP BY 1),
         |ew AS (SELECT e2.src, e2.dst, e2.w, dg.wout
         |       FROM e2 JOIN dg USING (src)),
         |r0 AS (SELECT src AS v, CAST(1000000 AS BIGINT) AS r FROM dg),
         |${rounds.stripSuffix(",\n")}
         |SELECT v AS token, r AS rank_q6 FROM r$iters
         |ORDER BY r DESC, v LIMIT 20""".stripMargin
    },

    // Same windowing (pos // 16 over the split token list), ext08's
    // marker scoring + tie chain per window, islands via the
    // win − row_number trick, per-doc segment reindex.
    "ext144_lang_segments" ->
      s"""WITH tku AS (
         |  SELECT doc_id,
         |         unnest(string_split(text, ' ')) AS tok,
         |         unnest(range(0, len(string_split(text, ' ')))) AS pos
         |  FROM documents),
         |w AS (SELECT doc_id, pos // 16 AS win,
         |        CAST(SUM(CASE WHEN tok IN (${markerList("en")})
         |             THEN 1 ELSE 0 END) AS BIGINT) AS score_en,
         |        CAST(SUM(CASE WHEN tok IN (${markerList("es")})
         |             THEN 1 ELSE 0 END) AS BIGINT) AS score_es,
         |        CAST(SUM(CASE WHEN tok IN (${markerList("zh")})
         |             THEN 1 ELSE 0 END) AS BIGINT) AS score_zh
         |      FROM tku GROUP BY 1, 2),
         |p AS (SELECT doc_id, win,
         |        CASE WHEN score_en >= score_es AND score_en >= score_zh
         |             THEN 'en'
         |             WHEN score_es >= score_zh THEN 'es'
         |             ELSE 'zh' END AS lang
         |      FROM w),
         |isl AS (SELECT *, win - row_number() OVER (
         |          PARTITION BY doc_id, lang ORDER BY win) AS i
         |        FROM p),
         |seg AS (SELECT doc_id, lang, i, min(win) AS seg_start,
         |          CAST(count(*) AS BIGINT) AS n_windows
         |        FROM isl GROUP BY 1, 2, 3)
         |SELECT doc_id,
         |       CAST(row_number() OVER (PARTITION BY doc_id
         |         ORDER BY seg_start) AS BIGINT) AS seg_idx,
         |       lang, CAST(seg_start AS BIGINT) AS seg_start, n_windows
         |FROM seg ORDER BY doc_id, seg_idx""".stripMargin,

    // One dots relation feeds all three metric rankings (cos DESC /
    // dot DESC / l2 ASC, ties t_id), each truncated at 10; RRF = sum
    // of 1000000 // (60 + rank) over the union, top-5 re-rank.
    "ext143_rrf_fusion" -> {
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
    },

    // Hybrid search: dense cosine ranking (QuantFlat chain) UNION the
    // per-query-doc BM25 ranking (ext165's integer pipeline with a
    // query-vocab join), fused by the same integer RRF.
    "ext169_hybrid_search" -> {
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
    },

    // Same grid DIV + 32-term disjoint-bit Morton sum + top-bits
    // bucketing, both layouts unioned off one cells CTE.
    "ext142_zorder_layout" -> {
      val bits = 16
      val bucketBits = 4
      def cell(v: String, lo: String, hi: String) =
        s"CAST(CASE WHEN $hi = $lo THEN 0 ELSE " +
          s"(($v - $lo) * ${(1L << bits) - 1}) // ($hi - $lo) END " +
          "AS BIGINT)"
      val morton = (0 until bits).flatMap(i => Seq(
          s"(((c1 >> $i) & 1) << ${2 * i + 1})",
          s"(((c2 >> $i) & 1) << ${2 * i})"))
        .mkString(" + ")
      s"""WITH v AS (SELECT user_id AS d1,
         |             epoch_us(ts) // 86400000000 AS d2 FROM events),
         |mm AS (SELECT min(d1) AS min1, max(d1) AS max1,
         |              min(d2) AS min2, max(d2) AS max2 FROM v),
         |cells AS (SELECT ${cell("d1", "min1", "max1")} AS c1,
         |                 ${cell("d2", "min2", "max2")} AS c2
         |          FROM v, mm),
         |tagged AS (
         |  SELECT 'zorder' AS layout,
         |         CAST(($morton) >> ${2 * bits - bucketBits} AS BIGINT)
         |           AS bucket, c1, c2
         |  FROM cells
         |  UNION ALL
         |  SELECT 'd1sort' AS layout,
         |         CAST(c1 >> ${bits - bucketBits} AS BIGINT) AS bucket,
         |         c1, c2
         |  FROM cells)
         |SELECT layout, bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(max(c1) - min(c1) AS BIGINT) AS d1_span,
         |       CAST(max(c2) - min(c2) AS BIGINT) AS d2_span
         |FROM tagged GROUP BY 1, 2
         |ORDER BY layout, bucket""".stripMargin
    },

    // ext133's scoring with absolute-grid ages: tref is the max epoch
    // bucket, age = bucket distance on the grid.
    "ext141_trending_aligned" ->
      """WITH tb AS (SELECT max(epoch_us(ts) // 86400000000) AS tref_b
        |            FROM events),
        |h AS (SELECT event_type AS part, user_id AS entity,
        |        tref_b - (epoch_us(ts) // 86400000000) AS age_bucket
        |      FROM events, tb),
        |s AS (SELECT part, entity,
        |        CAST(sum(CAST(1 AS BIGINT) << CAST(29 - age_bucket AS INT))
        |             AS BIGINT) AS decayed_scaled,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM h WHERE age_bucket < 30 GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY part
        |          ORDER BY decayed_scaled DESC, entity) AS BIGINT) AS rank
        |      FROM s)
        |SELECT part, entity, decayed_scaled, n_events, rank
        |FROM r WHERE rank <= 10 ORDER BY part, rank""".stripMargin,

    // The oracle rebuilds the hashed-bucket count vectors, the octave
    // log-ratio table (bit-length idiom) and the per-doc integer score,
    // then replays the power-of-two weighted draw — everything int64
    // except the final h/2^e priority, which is IEEE-exact.
    "ext134_dsir_select" ->
      s"""WITH tok AS (
         |  SELECT doc_id, is_target,
         |         ${hashSql("'dsir:' || t")} % 256 AS b
         |  FROM (SELECT doc_id, lang = 'en' AS is_target,
         |               unnest(string_split(text, ' ')) AS t
         |        FROM documents)),
         |c AS (SELECT b,
         |        CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END)
         |             AS BIGINT) AS c_t,
         |        CAST(count(*) AS BIGINT) AS c_r
         |      FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
         |               CAST(sum(c_r) AS BIGINT) AS n_r FROM c),
         |lr AS (SELECT b,
         |         CAST(length(bin(greatest(
         |             (1000000 * (c_t + 1) * (n_r + 256))
         |               // ((c_r + 1) * (n_t + 256)), 1))) AS BIGINT)
         |           - 21 AS lr_oct
         |       FROM c, tot),
         |sc AS (SELECT doc_id, CAST(sum(lr_oct) AS BIGINT) AS dsir_log2w,
         |              CAST(count(*) AS BIGINT) AS n_toks
         |       FROM tok JOIN lr USING (b) GROUP BY 1),
         |f AS (SELECT d.doc_id, d.lang, d.source,
         |             coalesce(sc.dsir_log2w, 0) AS dsir_log2w,
         |             coalesce(sc.n_toks, 0) AS n_toks
         |      FROM documents d LEFT JOIN sc USING (doc_id)),
         |p AS (SELECT *,
         |        CAST(${hashSql("'dsir:' || CAST(doc_id AS VARCHAR)")}
         |             AS DOUBLE)
         |          / CAST(CAST(1 AS BIGINT)
         |                 << CAST(greatest(least(dsir_log2w, 31), -31)
         |                         + 31 AS INT) AS DOUBLE) AS pri
         |      FROM f),
         |r AS (SELECT doc_id, lang, source, dsir_log2w, n_toks,
         |        CAST(row_number() OVER (ORDER BY pri, doc_id)
         |             AS BIGINT) AS rank
         |      FROM p)
         |SELECT * FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,

    // Prefix filtering replayed on the UNCAPPED distinct shingle
    // relation (sh0 — losslessness is the point, no hot-shingle drop):
    // rarest-first per-doc position, prefix length n − ceil(τn) + 1,
    // size-filtered prefix equi-join, exact intersection, integer τ
    // test — all int64.
    "ext135_jaccard_prefix_join" ->
      s"""$ShingleSql,
         |dfreq AS (SELECT h, CAST(count(*) AS BIGINT) AS df
         |          FROM sh0 GROUP BY 1),
         |sized AS (
         |  SELECT s.doc_id, s.h, d.df,
         |         CAST(count(*) OVER (PARTITION BY s.doc_id) AS BIGINT)
         |           AS n_sh,
         |         CAST(row_number() OVER (PARTITION BY s.doc_id
         |             ORDER BY d.df, s.h) AS BIGINT) AS pos
         |  FROM sh0 s JOIN dfreq d USING (h)),
         |pfx AS (SELECT doc_id, h, n_sh FROM sized
         |        WHERE pos <= n_sh - ((4 * n_sh + 4) // 5) + 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.n_sh AS n_a, b.n_sh AS n_b
         |  FROM pfx a JOIN pfx b ON a.h = b.h AND a.doc_id < b.doc_id
         |  WHERE 5 * least(a.n_sh, b.n_sh)
         |          >= 4 * greatest(a.n_sh, b.n_sh)),
         |iv AS (
         |  SELECT c.id_a, c.id_b, c.n_a, c.n_b,
         |         CAST(count(*) AS BIGINT) AS n_inter
         |  FROM cand c JOIN sh0 ta ON ta.doc_id = c.id_a
         |              JOIN sh0 tb ON tb.doc_id = c.id_b
         |                         AND tb.h = ta.h
         |  GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b, n_a, n_b, n_inter,
         |       (1000000 * n_inter) // (n_a + n_b - n_inter)
         |         AS jaccard_ppm
         |FROM iv
         |WHERE 5 * n_inter >= 4 * (n_a + n_b - n_inter)
         |ORDER BY id_a, id_b""".stripMargin,

    // Same integer period arithmetic: week = epoch_us // 7 days, cohort
    // = min week per user over the distinct (user, week) matrix.
    "ext136_cohort_retention" ->
      """WITH pr AS (SELECT DISTINCT user_id AS uid,
        |              epoch_us(ts) // 604800000000 AS p
        |            FROM events),
        |f AS (SELECT uid, min(p) AS cohort_p FROM pr GROUP BY 1),
        |cs AS (SELECT cohort_p, CAST(count(*) AS BIGINT) AS cohort_users
        |       FROM f GROUP BY 1),
        |m AS (SELECT f.cohort_p, pr.p - f.cohort_p AS p_offset,
        |        CAST(count(*) AS BIGINT) AS active_users
        |      FROM pr JOIN f USING (uid) GROUP BY 1, 2)
        |SELECT m.cohort_p, m.p_offset, m.active_users, cs.cohort_users,
        |       (1000000 * m.active_users) // cs.cohort_users
        |         AS retention_ppm
        |FROM m JOIN cs USING (cohort_p)
        |ORDER BY cohort_p, p_offset""".stripMargin,

    // The same dots/rank/fold-mean/margin algebra over the parity
    // split: forward and backward rankings off one scored relation,
    // k-NN means as rank-pivoted left folds (the fold order IS the
    // contract), floor-ppm margin, integer threshold.
    "ext137_margin_mine" -> marginMineSql(""),

    // The identical margin algebra with IVF candidate generation: the
    // dots relation is restricted to shared-bucket (same-label) pairs
    // — the ext06 coarse quantizer — in BOTH directions' rankings and
    // neighborhood means.
    "ext146_margin_mine_ivf" ->
      marginMineSql("AND a.label = b.label"),

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
    "ext147_margin_recall" -> materializeCtes(
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
         |FROM xc, yc, cc""".stripMargin),

    // Stupid-backoff replay: pruned bigram LM (HAVING >= minCount),
    // unigram table, 1-row total; kept positions (1e6*cb)//cu(t1),
    // backoff (4e5*cu(t2))//N, octave = bitlen(ppm)-21 — all int64.
    "ext148_lm_backoff" ->
      """WITH bg AS (
        |  SELECT doc_id, unnest(tk[1:len(tk)-1]) AS t1,
        |         unnest(tk[2:len(tk)]) AS t2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents)),
        |lm AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cb
        |       FROM bg GROUP BY 1, 2 HAVING count(*) >= 2),
        |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS cu FROM (
        |          SELECT unnest(string_split(text, ' ')) AS t
        |          FROM documents) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total FROM uni),
        |sp AS (
        |  SELECT bg.doc_id,
        |         CASE WHEN lm.cb IS NOT NULL AND u1.cu IS NOT NULL
        |              THEN (1000000 * lm.cb) // u1.cu
        |              ELSE (400000 * COALESCE(u2.cu, 0)) // tot.n_total
        |         END AS ppm,
        |         CASE WHEN lm.cb IS NULL THEN 1 ELSE 0 END AS bo
        |  FROM bg LEFT JOIN lm USING (t1, t2)
        |       LEFT JOIN uni u1 ON u1.t = bg.t1
        |       LEFT JOIN uni u2 ON u2.t = bg.t2, tot),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |             CAST(SUM(bo) AS BIGINT) AS n_backoff,
        |             CAST(SUM(CAST(length(bin(greatest(ppm, 1)))
        |                  AS BIGINT) - 21) AS BIGINT) AS lm_log2q
        |      FROM sp GROUP BY 1)
        |SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(s.n_backoff, 0) AS n_backoff,
        |       COALESCE(s.lm_log2q, 0) AS lm_log2q
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Band-plan replay: the ext02 bounded-Jaccard truth with integer
    // ppm, then one aggregate per (r, b) plan over the SAME
    // fpPowChain-generated truncating power chains as the Spark side.
    "ext149_lsh_band_plan" -> {
      val planRows = (1 to Dedup.NumHashes)
        .filter(Dedup.NumHashes % _ == 0).map { r =>
          val b = Dedup.NumHashes / r
          val p = s"(1000000 - ${Dedup.fpPowChain(
            s"(1000000 - ${Dedup.fpPowChain("s", r)})", b)})"
          val inUse = if (r == Dedup.BandRows) 1 else 0
          s"""SELECT CAST($r AS BIGINT) AS rows_per_band,
             |       CAST($b AS BIGINT) AS bands,
             |       CAST(count(*) AS BIGINT) AS n_true_pairs,
             |       CAST(CASE WHEN count(*) = 0 THEN 0
             |            ELSE SUM(${p.replace("DIV", "//")}) // count(*)
             |            END AS BIGINT) AS exp_recall_ppm,
             |       CAST($inUse AS BIGINT) AS in_use
             |FROM truth""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""$ShingleSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b USING (h)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |truth AS (
         |  SELECT (1000000 * n_inter) // (na.n + nb.n - n_inter) AS s
         |  FROM inter JOIN sizes na ON na.doc_id = id_a
         |             JOIN sizes nb ON nb.doc_id = id_b
         |  WHERE (1000000 * n_inter) // (na.n + nb.n - n_inter)
         |        >= 500000)
         |SELECT * FROM ($planRows)
         |ORDER BY rows_per_band""".stripMargin
    },

    // PSI replay: log2 length buckets, Laplace ppm shares, bit-length
    // octave of the share ratio, aligned-sign contributions, total row.
    "ext150_psi_drift" ->
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
        |ORDER BY bucket""".stripMargin,

    // Selection-quantile replay: rank every row, pick rn = ceil(q*n/100)
    // — the k-th order statistic (ties share the value, so the pick is
    // deterministic in `value` even though row_number is not).
    "ext151_selection_quantiles" ->
      """WITH r AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS v,
        |         row_number() OVER (
        |           PARTITION BY lang ORDER BY n_chars) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, CAST(qq.q AS BIGINT) AS q, v AS value
        |FROM r, (VALUES (50), (90)) qq(q)
        |WHERE rn = (qq.q * n + 99) // 100
        |ORDER BY lang, q""".stripMargin,

    // Trend-slope replay: the same five sums over the day-count
    // matrix, min-shifted x, single double division.
    "ext152_trend_slope" ->
      """WITH c AS (
        |  SELECT event_type AS entity,
        |         epoch_us(ts) // 86400000000 AS x,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT CAST(MIN(x) AS BIGINT) AS x0 FROM c),
        |s AS (
        |  SELECT entity, CAST(count(*) AS BIGINT) AS n_periods,
        |         CAST(SUM(x - x0) AS BIGINT) AS sx,
        |         CAST(SUM(y) AS BIGINT) AS sy,
        |         SUM(CAST(x - x0 AS HUGEINT) * y) AS sxy,
        |         CAST(SUM((x - x0) * (x - x0)) AS BIGINT) AS sxx
        |  FROM c, m GROUP BY 1)
        |SELECT entity, n_periods, sy AS n_events,
        |       CASE WHEN CAST(n_periods AS HUGEINT) * sxx
        |                 - CAST(sx AS HUGEINT) * sx = 0 THEN 0
        |            ELSE CAST(floor(1000000.0 *
        |                 (CAST(CAST(n_periods AS HUGEINT) * sxy
        |                       - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |                  CAST(CAST(n_periods AS HUGEINT) * sxx
        |                       - CAST(sx AS HUGEINT) * sx AS DOUBLE)))
        |                 AS BIGINT)
        |       END AS slope_ppm
        |FROM s ORDER BY entity""".stripMargin,

    // Encode-side replay: the ext111/112 bpeCtes chain ends at the
    // post-merge state s3; the vocabulary card is one GROUP BY word
    // (+ over-cap chars as single symbols, the ext112 wc shape).
    "ext153_bpe_encode" -> materializeCtes(
      s"""$bpeCtes
         |SELECT word, CAST(MAX(cnt) AS BIGINT) AS cnt,
         |       CAST(count(*) + greatest(length(word)
         |         - ${TextOps.BpeMaxWordLen}, 0) AS BIGINT) AS n_syms
         |FROM s3 WHERE length(word) > 0
         |GROUP BY word ORDER BY word""".stripMargin),

    // Moore-Lewis: the ext148 stupid-backoff chain TWICE — general LM
    // from all documents, in-domain LM from lang='en' — then the
    // per-doc octave difference; selected = sign(gain).
    "ext154_moore_lewis" ->
      """WITH bg AS (
        |  SELECT doc_id, lang, unnest(tk[1:len(tk)-1]) AS t1,
        |         unnest(tk[2:len(tk)]) AS t2
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk
        |        FROM documents)),
        |lmg AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cb
        |        FROM bg GROUP BY 1, 2 HAVING count(*) >= 2),
        |lmi AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cb
        |        FROM bg WHERE lang = 'en'
        |        GROUP BY 1, 2 HAVING count(*) >= 2),
        |ung AS (SELECT t, CAST(count(*) AS BIGINT) AS cu FROM (
        |          SELECT unnest(string_split(text, ' ')) AS t
        |          FROM documents) GROUP BY 1),
        |uin AS (SELECT t, CAST(count(*) AS BIGINT) AS cu FROM (
        |          SELECT unnest(string_split(text, ' ')) AS t
        |          FROM documents WHERE lang = 'en') GROUP BY 1),
        |tg AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total FROM ung),
        |ti AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total FROM uin),
        |spg AS (
        |  SELECT bg.doc_id,
        |         CASE WHEN lm.cb IS NOT NULL AND u1.cu IS NOT NULL
        |              THEN (1000000 * lm.cb) // u1.cu
        |              ELSE (400000 * COALESCE(u2.cu, 0)) // tg.n_total
        |         END AS ppm,
        |         CASE WHEN lm.cb IS NULL THEN 1 ELSE 0 END AS bo
        |  FROM bg LEFT JOIN lmg lm USING (t1, t2)
        |       LEFT JOIN ung u1 ON u1.t = bg.t1
        |       LEFT JOIN ung u2 ON u2.t = bg.t2, tg),
        |spi AS (
        |  SELECT bg.doc_id,
        |         CASE WHEN lm.cb IS NOT NULL AND u1.cu IS NOT NULL
        |              THEN (1000000 * lm.cb) // u1.cu
        |              ELSE (400000 * COALESCE(u2.cu, 0)) // ti.n_total
        |         END AS ppm,
        |         CASE WHEN lm.cb IS NULL THEN 1 ELSE 0 END AS bo
        |  FROM bg LEFT JOIN lmi lm USING (t1, t2)
        |       LEFT JOIN uin u1 ON u1.t = bg.t1
        |       LEFT JOIN uin u2 ON u2.t = bg.t2, ti),
        |sg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |              CAST(SUM(bo) AS BIGINT) AS n_backoff,
        |              CAST(SUM(CAST(length(bin(greatest(ppm, 1)))
        |                   AS BIGINT) - 21) AS BIGINT) AS lmq
        |       FROM spg GROUP BY 1),
        |si AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |              CAST(SUM(bo) AS BIGINT) AS n_backoff,
        |              CAST(SUM(CAST(length(bin(greatest(ppm, 1)))
        |                   AS BIGINT) - 21) AS BIGINT) AS lmq
        |       FROM spi GROUP BY 1)
        |SELECT d.doc_id,
        |       COALESCE(si.n_bigrams, 0) AS n_bigrams,
        |       COALESCE(si.n_backoff, 0) AS n_backoff_in,
        |       COALESCE(si.lmq, 0) AS lm_in,
        |       COALESCE(sg.n_backoff, 0) AS n_backoff_gen,
        |       COALESCE(sg.lmq, 0) AS lm_gen,
        |       COALESCE(si.lmq, 0) - COALESCE(sg.lmq, 0) AS gain_oct,
        |       CAST(CASE WHEN COALESCE(si.lmq, 0)
        |                      - COALESCE(sg.lmq, 0) >= 0
        |            THEN 1 ELSE 0 END AS BIGINT) AS selected
        |FROM documents d LEFT JOIN sg USING (doc_id)
        |     LEFT JOIN si USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Char entropy: per-(doc, code point) counts, ppm share floored at
    // 1, surprise = 21 - bitlen(share), ent = sum(nc * surprise) — the
    // same all-positive octave algebra, so trunc-vs-floor DIV never
    // diverges.
    "ext155_char_entropy" ->
      """WITH pc AS (
        |  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS nc
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |        FROM documents)
        |  WHERE length(ch) > 0 GROUP BY 1, 2),
        |wd AS (SELECT doc_id, nc,
        |              SUM(nc) OVER (PARTITION BY doc_id) AS n FROM pc),
        |sc AS (SELECT doc_id, nc, n,
        |              greatest((nc * 1000000) // n, 1) AS share_ppm
        |       FROM wd),
        |card AS (
        |  SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars_used,
        |         CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |         CAST(SUM(nc * (21 - length(bin(share_ppm))))
        |           AS BIGINT) AS ent_oct
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |       COALESCE(c.n_chars_used, 0) AS n_chars_used,
        |       COALESCE(c.n_distinct_chars, 0) AS n_distinct_chars,
        |       COALESCE(c.ent_oct, 0) AS ent_oct,
        |       COALESCE(CAST((c.ent_oct * 1000) // c.n_chars_used
        |         AS BIGINT), 0) AS mean_millioct
        |FROM documents d LEFT JOIN card c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // CCNet buckets: the ext148 backoff chain, negated-octave penalty
    // per position x1000 (strictly positive — sign-free DIV), per-lang
    // tercile cut over the (penalty, doc_id) total order; zero-bigram
    // docs in an explicit 'unscored' bucket.
    "ext156_ccnet_buckets" ->
      """WITH bg AS (
        |  SELECT doc_id, unnest(tk[1:len(tk)-1]) AS t1,
        |         unnest(tk[2:len(tk)]) AS t2
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |        FROM documents)),
        |lm AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cb
        |       FROM bg GROUP BY 1, 2 HAVING count(*) >= 2),
        |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS cu FROM (
        |          SELECT unnest(string_split(text, ' ')) AS t
        |          FROM documents) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total FROM uni),
        |sp AS (
        |  SELECT bg.doc_id,
        |         CASE WHEN lm.cb IS NOT NULL AND u1.cu IS NOT NULL
        |              THEN (1000000 * lm.cb) // u1.cu
        |              ELSE (400000 * COALESCE(u2.cu, 0)) // tot.n_total
        |         END AS ppm
        |  FROM bg LEFT JOIN lm USING (t1, t2)
        |       LEFT JOIN uni u1 ON u1.t = bg.t1
        |       LEFT JOIN uni u2 ON u2.t = bg.t2, tot),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |             CAST(SUM(CAST(length(bin(greatest(ppm, 1)))
        |                  AS BIGINT) - 21) AS BIGINT) AS lm
        |      FROM sp GROUP BY 1),
        |sc AS (SELECT d.doc_id, d.lang,
        |              COALESCE(s.n_bigrams, 0) AS n_bigrams,
        |              COALESCE(s.lm, 0) AS lm
        |       FROM documents d LEFT JOIN s USING (doc_id)),
        |r AS (SELECT doc_id, lang, n_bigrams,
        |        ((0 - lm) * 1000) // n_bigrams AS penalty_mppm,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY ((0 - lm) * 1000) // n_bigrams, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY lang) AS n
        |      FROM sc WHERE n_bigrams > 0)
        |SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |       CAST(penalty_mppm AS BIGINT) AS penalty_mppm,
        |       CASE ((rk - 1) * 3) // n WHEN 0 THEN 'head'
        |            WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM r
        |UNION ALL
        |SELECT doc_id, lang, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |       'unscored'
        |FROM sc WHERE n_bigrams = 0
        |ORDER BY doc_id""".stripMargin,

    // Langid margin: the ext08 marker scores + best/runner-up
    // arithmetic (runner-up = total - max - min), per-token ppm margin
    // and the 1000-ppm confident flag.
    "ext157_langid_margin" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("en")}))) AS BIGINT) AS score_en,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("es")}))) AS BIGINT) AS score_es,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN (${markerList("zh")}))) AS BIGINT) AS score_zh
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, n_toks,
         |    CASE WHEN score_en >= score_es AND score_en >= score_zh
         |         THEN 'en'
         |         WHEN score_es >= score_zh THEN 'es'
         |         ELSE 'zh' END AS predicted,
         |    greatest(score_en, score_es, score_zh) AS best,
         |    score_en + score_es + score_zh
         |      - greatest(score_en, score_es, score_zh)
         |      - least(score_en, score_es, score_zh) AS second
         |  FROM s)
         |SELECT doc_id, predicted, n_toks, best, second,
         |       best - second AS margin,
         |       CAST(CASE WHEN n_toks = 0 THEN 0
         |            ELSE ((best - second) * 1000000) // n_toks
         |       END AS BIGINT) AS margin_ppm,
         |       CAST(CASE WHEN (CASE WHEN n_toks = 0 THEN 0
         |                 ELSE ((best - second) * 1000000) // n_toks
         |                 END) >= 1000
         |            THEN 1 ELSE 0 END AS BIGINT) AS confident
         |FROM m ORDER BY doc_id""".stripMargin,

    // PCA power iteration: three unrolled rounds over the ppm-quantized
    // flat relation — per-vec dot vs the previous iterate (sign-managed
    // // 1e6), HUGEINT per-dim accumulate, L-inf normalize with the
    // min-dim sign pin; the same exact integers the driver computes.
    "ext159_pca_power" -> {
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
    },

    // PMI: pair/unigram counts, HUGEINT ratio_ppm, debiased octave,
    // deterministic top-k head.
    "ext160_pmi_collocations" ->
      s"""WITH uni AS (
         |  SELECT t, CAST(count(*) AS BIGINT) AS cu FROM (
         |    SELECT unnest(string_split(text, ' ')) AS t
         |    FROM documents) GROUP BY 1),
         |nu AS (SELECT CAST(SUM(cu) AS BIGINT) AS nu FROM uni),
         |bg AS (
         |  SELECT unnest(tk[1:len(tk)-1]) AS t1,
         |         unnest(tk[2:len(tk)]) AS t2
         |  FROM (SELECT string_split(text, ' ') AS tk FROM documents)),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM bg),
         |pairs AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS c
         |          FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
         |scored AS (
         |  SELECT t1, t2, c AS c_ab, ua.cu AS ca, ub.cu AS cb,
         |         CAST((CAST(c AS HUGEINT) * nu.nu * nu.nu * 1000000)
         |              // (CAST(nb.nb AS HUGEINT) * ua.cu * ub.cu)
         |           AS BIGINT) AS ratio_ppm
         |  FROM pairs JOIN uni ua ON ua.t = pairs.t1
         |       JOIN uni ub ON ub.t = pairs.t2, nu, nb)
         |SELECT t1, t2, c_ab, ca, cb, ratio_ppm,
         |       CAST(length(bin(greatest(ratio_ppm, 1))) AS BIGINT)
         |         - 20 AS pmi_oct
         |FROM scored
         |ORDER BY ratio_ppm DESC, t1, t2 LIMIT 100""".stripMargin,

    // Length buckets: bitlen classes over whitespace token counts,
    // per-bucket max, pad-to-bucket vs pad-to-global waste.
    "ext161_length_bucketing" ->
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
        |FROM pb, g ORDER BY bucket""".stripMargin,

    // Label propagation: the ext74 recursive cluster chain, per-cluster
    // majority with the (n DESC, label ASC) window, singletons via the
    // double LEFT join with the -1 sentinel.
    "ext163_label_propagation" ->
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |lab AS (SELECT doc_id, lang AS label FROM documents),
         |cnt AS (SELECT cl.cluster_id, lab.label,
         |               CAST(count(*) AS BIGINT) AS n
         |        FROM cl JOIN lab USING (doc_id) GROUP BY 1, 2),
         |maj AS (SELECT cluster_id, label AS majority_label FROM (
         |          SELECT cluster_id, label, row_number() OVER (
         |            PARTITION BY cluster_id
         |            ORDER BY n DESC, label) AS rk FROM cnt)
         |        WHERE rk = 1)
         |SELECT lab.doc_id, lab.label,
         |       COALESCE(cl.cluster_id, -1) AS cluster_id,
         |       COALESCE(maj.majority_label, lab.label)
         |         AS majority_label,
         |       CAST(CASE WHEN lab.label <>
         |                 COALESCE(maj.majority_label, lab.label)
         |            THEN 1 ELSE 0 END AS BIGINT) AS relabeled
         |FROM lab LEFT JOIN cl USING (doc_id)
         |     LEFT JOIN maj ON maj.cluster_id = cl.cluster_id
         |ORDER BY lab.doc_id""".stripMargin,

    // Image phash near-dups: the 60-bit byte-blockhash replayed per
    // char (docs are ASCII, so ascii() == the utf-8 byte), bit = block
    // mean > global mean via the exact cross-multiply, then all-pairs
    // exact Hamming — equivalent to the engine's bucketed candidates
    // BECAUSE pigeonhole chunking is lossless at radius 11 with 12
    // chunks (the oracle doubles as the recall audit).
    // range() takes only constant bounds in DuckDB, so the replay cap
    // guards itself: any doc longer than the 100000-char bound turns
    // the length column into error(...) — a LOUD oracle failure, not a
    // silently truncated hash (r14 ADVICE). doc_id < 300 is the
    // audit's input bound (r15 verdict item 4) — mirrors the engine.
    "ext164_image_phash_dups" ->
      """WITH d AS (SELECT doc_id, text,
        |             CASE WHEN len(text) > 100000 THEN CAST(error(
        |               'ext164 oracle: doc exceeds the 100000-char ' ||
        |               'replay bound') AS BIGINT)
        |             ELSE len(text) END AS n
        |           FROM documents
        |           WHERE len(text) > 0 AND doc_id < 300),
        |b AS (SELECT doc_id, (i*60)//n AS blk,
        |             sum(ascii(substr(text, CAST(i+1 AS BIGINT), 1)))
        |               AS s,
        |             CAST(count(*) AS BIGINT) AS c
        |      FROM d JOIN range(0, 100000) g(i) ON i < n
        |      GROUP BY 1, 2),
        |t AS (SELECT doc_id, sum(s) AS total, sum(c) AS n
        |      FROM b GROUP BY 1),
        |h AS (SELECT b.doc_id,
        |             CAST(sum(CASE WHEN s * n > total * c
        |                  THEN (1::BIGINT << CAST(blk AS INT))
        |                  ELSE 0 END) AS BIGINT) AS phash
        |      FROM b JOIN t USING (doc_id) GROUP BY 1)
        |SELECT a.doc_id AS id_a, bb.doc_id AS id_b,
        |       CAST(bit_count(xor(a.phash, bb.phash)) AS BIGINT)
        |         AS hamming
        |FROM h a JOIN h bb ON a.doc_id < bb.doc_id
        |WHERE bit_count(xor(a.phash, bb.phash)) <= 11
        |ORDER BY id_a, id_b""".stripMargin,

    // Production-regime phash ledger: the same blockhash replay, then
    // 4x15-bit chunk buckets — join volume Σ C(c,2), bucket skew,
    // distinct candidates, radius-3 survivors.
    "ext171_phash_prod_ledger" ->
      """WITH d AS (SELECT doc_id, text,
        |             CASE WHEN len(text) > 100000 THEN CAST(error(
        |               'ext171 oracle: doc exceeds the 100000-char ' ||
        |               'replay bound') AS BIGINT)
        |             ELSE len(text) END AS n
        |           FROM documents WHERE len(text) > 0),
        |b AS (SELECT doc_id, (i*60)//n AS blk,
        |             sum(ascii(substr(text, CAST(i+1 AS BIGINT), 1)))
        |               AS s,
        |             CAST(count(*) AS BIGINT) AS c
        |      FROM d JOIN range(0, 100000) g(i) ON i < n
        |      GROUP BY 1, 2),
        |t AS (SELECT doc_id, sum(s) AS total, sum(c) AS n
        |      FROM b GROUP BY 1),
        |h AS (SELECT b.doc_id,
        |             CAST(sum(CASE WHEN s * n > total * c
        |                  THEN (1::BIGINT << CAST(blk AS INT))
        |                  ELSE 0 END) AS BIGINT) AS phash
        |      FROM b JOIN t USING (doc_id) GROUP BY 1),
        |ch AS (SELECT doc_id, phash, g.i AS chunk_id,
        |              (phash >> CAST(g.i * 15 AS INT)) & 32767 AS chunk
        |       FROM h CROSS JOIN range(0, 4) g(i)),
        |bk AS (SELECT chunk_id, chunk, CAST(count(*) AS BIGINT) AS c
        |       FROM ch GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b,
        |                bit_count(xor(a.phash, bb.phash)) AS ham
        |         FROM ch a JOIN ch bb USING (chunk_id, chunk)
        |         WHERE a.doc_id < bb.doc_id)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM h) AS n_assets,
        |  (SELECT CAST(COALESCE(sum(c*(c-1)//2), 0) AS BIGINT)
        |   FROM bk) AS join_rows,
        |  (SELECT CAST(COALESCE(sum(CASE WHEN c >= 2 THEN 1 ELSE 0
        |     END), 0) AS BIGINT) FROM bk) AS buckets_hit,
        |  (SELECT CAST(COALESCE(max(c), 0) AS BIGINT) FROM bk)
        |    AS max_bucket,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS cand_pairs,
        |  (SELECT CAST(COALESCE(sum(CASE WHEN ham <= 3 THEN 1 ELSE 0
        |     END), 0) AS BIGINT) FROM cand) AS survivors""".stripMargin,

    // Budget select: the bisection's threshold/boundary definitions
    // replayed declaratively — t = min score with above-mass <= B
    // (whole-corpus-fits => smin-1), id* = last boundary-class doc
    // before the running class total crosses B; selection predicate
    // and card aggregates identical to the engine's.
    "ext172_budget_select" -> {
      val b = BudgetSelectTokens
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(string_split(text,' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
         |  FROM documents),
         |s AS (SELECT doc_id, n_toks,
         |    CAST(least(n_toks*10000, 1000000)//2
         |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
         |  FROM d),
         |tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total,
         |               CAST(count(*) AS BIGINT) AS n_docs,
         |               min(score) AS smin, max(doc_id) AS imax
         |        FROM s),
         |cls AS (SELECT score, CAST(sum(n_toks) AS BIGINT) AS ct
         |        FROM s GROUP BY score),
         |ca AS (SELECT score, CAST(COALESCE(sum(ct) OVER (
         |         ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING
         |         AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls),
         |thr AS (SELECT CASE WHEN (SELECT total FROM tot) <= $b
         |          THEN (SELECT smin FROM tot) - 1
         |          ELSE (SELECT min(score) FROM ca WHERE above <= $b)
         |          END AS t),
         |base AS (SELECT CAST(COALESCE(sum(n_toks), 0) AS BIGINT) AS b
         |         FROM s, thr WHERE score > t),
         |ccum AS (SELECT doc_id,
         |           CAST(sum(n_toks) OVER (ORDER BY doc_id
         |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumt
         |         FROM s, thr WHERE score = t),
         |ctot AS (SELECT CAST(COALESCE(sum(n_toks),0) AS BIGINT) AS ct
         |         FROM s, thr WHERE score = t),
         |bid AS (SELECT CASE
         |          WHEN (SELECT b FROM base) + (SELECT ct FROM ctot)
         |            <= $b THEN (SELECT imax FROM tot)
         |          ELSE (SELECT min(doc_id) FROM ccum
         |                WHERE (SELECT b FROM base) + cumt > $b) - 1
         |          END AS i),
         |sel AS (SELECT s.*, CASE WHEN score > (SELECT t FROM thr)
         |          OR (score = (SELECT t FROM thr)
         |              AND doc_id <= (SELECT i FROM bid))
         |          THEN 1 ELSE 0 END AS selected FROM s)
         |SELECT (SELECT t FROM thr) AS threshold_score,
         |  (SELECT i FROM bid) AS boundary_id,
         |  CAST(sum(selected) AS BIGINT) AS n_selected,
         |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
         |    AS BIGINT) AS tokens_selected,
         |  (SELECT n_docs FROM tot) AS n_docs,
         |  (SELECT total FROM tot) AS tokens_total,
         |  CAST($b AS BIGINT) AS budget_tokens,
         |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
         |    * 1000000 // $b AS BIGINT) AS fill_ppm
         |FROM sel""".stripMargin
    },

    // Stratified budget select: ext172's declarative replay grouped
    // by lang — per-lang threshold (min score class with above-mass
    // <= B, whole-fit => smin-1), per-lang boundary (first
    // overflowing boundary-class doc minus 1, whole-class-fit =>
    // imax), identical selection predicate and card aggregates.
    // Validated equal to an independent per-lang prefix-rule replay
    // before wiring (the ext172 convention).
    "ext173_budget_select_strata" -> {
      val b = StratumBudgetTokens
      s"""WITH d AS (SELECT lang, doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(string_split(text,' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
         |  FROM documents),
         |s AS (SELECT lang, doc_id, n_toks,
         |    CAST(least(n_toks*10000, 1000000)//2
         |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
         |  FROM d),
         |tot AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS total,
         |               CAST(count(*) AS BIGINT) AS n_docs,
         |               min(score) AS smin, max(doc_id) AS imax
         |        FROM s GROUP BY lang),
         |cls AS (SELECT lang, score, CAST(sum(n_toks) AS BIGINT) AS ct
         |        FROM s GROUP BY lang, score),
         |ca AS (SELECT lang, score, CAST(COALESCE(sum(ct) OVER (
         |         PARTITION BY lang ORDER BY score DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING
         |         AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls),
         |thr AS (SELECT tot.lang, CASE WHEN tot.total <= $b
         |          THEN tot.smin - 1
         |          ELSE (SELECT min(score) FROM ca
         |                WHERE ca.lang = tot.lang AND above <= $b)
         |          END AS t
         |        FROM tot),
         |base AS (SELECT thr.lang,
         |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS b
         |         FROM thr LEFT JOIN s
         |           ON s.lang = thr.lang AND s.score > thr.t
         |         GROUP BY thr.lang),
         |ccum AS (SELECT s.lang, s.doc_id,
         |           CAST(sum(s.n_toks) OVER (PARTITION BY s.lang
         |             ORDER BY s.doc_id ROWS UNBOUNDED PRECEDING)
         |             AS BIGINT) AS cumt
         |         FROM s JOIN thr
         |           ON s.lang = thr.lang AND s.score = thr.t),
         |ctot AS (SELECT thr.lang,
         |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS ct
         |         FROM thr LEFT JOIN s
         |           ON s.lang = thr.lang AND s.score = thr.t
         |         GROUP BY thr.lang),
         |bid AS (SELECT thr.lang, CASE
         |          WHEN base.b + ctot.ct <= $b THEN tot.imax
         |          ELSE (SELECT min(cc.doc_id) FROM ccum cc
         |                WHERE cc.lang = thr.lang
         |                  AND base.b + cc.cumt > $b) - 1
         |          END AS i
         |        FROM thr JOIN base USING (lang)
         |          JOIN ctot USING (lang) JOIN tot USING (lang)),
         |sel AS (SELECT s.*, CASE WHEN s.score > thr.t
         |          OR (s.score = thr.t AND s.doc_id <= bid.i)
         |          THEN 1 ELSE 0 END AS selected
         |        FROM s JOIN thr USING (lang) JOIN bid USING (lang))
         |SELECT sel.lang, thr.t AS threshold_score,
         |  bid.i AS boundary_id,
         |  CAST(sum(selected) AS BIGINT) AS n_selected,
         |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
         |    AS BIGINT) AS tokens_selected,
         |  tot.n_docs, tot.total AS tokens_total,
         |  CAST($b AS BIGINT) AS budget_tokens,
         |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
         |    * 1000000 // $b AS BIGINT) AS fill_ppm
         |FROM sel JOIN thr USING (lang) JOIN bid USING (lang)
         |  JOIN tot USING (lang)
         |GROUP BY sel.lang, thr.t, bid.i, tot.n_docs, tot.total
         |ORDER BY sel.lang""".stripMargin
    },

    // Budget fill curve: ext172's declarative replay joined against
    // the budget VALUES ladder — per-budget threshold/boundary/card,
    // validated equal to an independent per-budget prefix replay
    // before wiring.
    "ext174_budget_fill_curve" -> {
      val budgets = FillCurveBudgets.map(b => s"($b)").mkString(", ")
      s"""WITH bs AS (SELECT CAST(b AS BIGINT) AS b
         |          FROM (VALUES $budgets) v(b)),
         |d AS (SELECT doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(string_split(text,' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
         |  FROM documents),
         |s AS (SELECT doc_id, n_toks,
         |    CAST(least(n_toks*10000, 1000000)//2
         |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
         |  FROM d),
         |tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total,
         |               CAST(count(*) AS BIGINT) AS n_docs,
         |               min(score) AS smin, max(doc_id) AS imax
         |        FROM s),
         |cls AS (SELECT score, CAST(sum(n_toks) AS BIGINT) AS ct
         |        FROM s GROUP BY score),
         |ca AS (SELECT score, CAST(COALESCE(sum(ct) OVER (
         |         ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING
         |         AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls),
         |thr AS (SELECT bs.b, CASE WHEN tot.total <= bs.b
         |          THEN tot.smin - 1
         |          ELSE (SELECT min(score) FROM ca WHERE above <= bs.b)
         |          END AS t
         |        FROM bs, tot),
         |base AS (SELECT thr.b,
         |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS m
         |         FROM thr LEFT JOIN s ON s.score > thr.t
         |         GROUP BY thr.b),
         |ccum AS (SELECT thr.b, s.doc_id,
         |           CAST(sum(s.n_toks) OVER (PARTITION BY thr.b
         |             ORDER BY s.doc_id ROWS UNBOUNDED PRECEDING)
         |             AS BIGINT) AS cumt
         |         FROM s JOIN thr ON s.score = thr.t),
         |ctot AS (SELECT thr.b,
         |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS ct
         |         FROM thr LEFT JOIN s ON s.score = thr.t
         |         GROUP BY thr.b),
         |bid AS (SELECT thr.b, CASE
         |          WHEN base.m + ctot.ct <= thr.b THEN tot.imax
         |          ELSE (SELECT min(cc.doc_id) FROM ccum cc
         |                WHERE cc.b = thr.b
         |                  AND base.m + cc.cumt > thr.b) - 1
         |          END AS i
         |        FROM thr JOIN base USING (b) JOIN ctot USING (b),
         |          tot),
         |sel AS (SELECT thr.b, thr.t, bid.i, s.n_toks,
         |          CASE WHEN s.score > thr.t
         |            OR (s.score = thr.t AND s.doc_id <= bid.i)
         |          THEN 1 ELSE 0 END AS selected
         |        FROM s, thr JOIN bid USING (b))
         |SELECT sel.b AS budget_tokens, sel.t AS threshold_score,
         |  sel.i AS boundary_id,
         |  CAST(sum(selected) AS BIGINT) AS n_selected,
         |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
         |    AS BIGINT) AS tokens_selected,
         |  tot.n_docs, tot.total AS tokens_total,
         |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
         |    * 1000000 // sel.b AS BIGINT) AS fill_ppm
         |FROM sel, tot
         |GROUP BY sel.b, sel.t, sel.i, tot.n_docs, tot.total
         |ORDER BY budget_tokens""".stripMargin
    },

    // Per-stratum fill curves: ext173's per-lang replay crossed with
    // the budget VALUES ladder — per-(lang, budget) threshold
    // (min score class with above-mass <= b, whole-fit => smin-1),
    // boundary (first overflowing boundary-class doc minus 1,
    // whole-class-fit => imax), identical selection predicate and
    // card aggregates. Validated equal to an independent per-(lang,
    // budget) prefix replay — masses AND exact selection sets —
    // before wiring (the ext172/173/174 convention).
    "ext176_fill_curve_strata" -> {
      val budgets = StratumFillBudgets.map(b => s"($b)").mkString(", ")
      s"""WITH bs AS (SELECT CAST(b AS BIGINT) AS b
         |          FROM (VALUES $budgets) v(b)),
         |d AS (SELECT lang, doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(string_split(text,' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
         |  FROM documents),
         |s AS (SELECT lang, doc_id, n_toks,
         |    CAST(least(n_toks*10000, 1000000)//2
         |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
         |  FROM d),
         |tot AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS total,
         |               CAST(count(*) AS BIGINT) AS n_docs,
         |               min(score) AS smin, max(doc_id) AS imax
         |        FROM s GROUP BY lang),
         |cls AS (SELECT lang, score, CAST(sum(n_toks) AS BIGINT) AS ct
         |        FROM s GROUP BY lang, score),
         |ca AS (SELECT lang, score, CAST(COALESCE(sum(ct) OVER (
         |         PARTITION BY lang ORDER BY score DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING
         |         AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls),
         |thr AS (SELECT tot.lang, bs.b, CASE WHEN tot.total <= bs.b
         |          THEN tot.smin - 1
         |          ELSE (SELECT min(score) FROM ca
         |                WHERE ca.lang = tot.lang AND above <= bs.b)
         |          END AS t
         |        FROM tot, bs),
         |base AS (SELECT thr.lang, thr.b,
         |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS m
         |         FROM thr LEFT JOIN s
         |           ON s.lang = thr.lang AND s.score > thr.t
         |         GROUP BY thr.lang, thr.b),
         |ccum AS (SELECT thr.lang, thr.b, s.doc_id,
         |           CAST(sum(s.n_toks) OVER (PARTITION BY thr.lang,
         |             thr.b ORDER BY s.doc_id ROWS UNBOUNDED PRECEDING)
         |             AS BIGINT) AS cumt
         |         FROM s JOIN thr
         |           ON s.lang = thr.lang AND s.score = thr.t),
         |ctot AS (SELECT thr.lang, thr.b,
         |           CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS ct
         |         FROM thr LEFT JOIN s
         |           ON s.lang = thr.lang AND s.score = thr.t
         |         GROUP BY thr.lang, thr.b),
         |bid AS (SELECT thr.lang, thr.b, CASE
         |          WHEN base.m + ctot.ct <= thr.b THEN tot.imax
         |          ELSE (SELECT min(cc.doc_id) FROM ccum cc
         |                WHERE cc.lang = thr.lang AND cc.b = thr.b
         |                  AND base.m + cc.cumt > thr.b) - 1
         |          END AS i
         |        FROM thr JOIN base USING (lang, b)
         |          JOIN ctot USING (lang, b) JOIN tot USING (lang)),
         |sel AS (SELECT thr.b, s.lang, s.n_toks, thr.t, bid.i,
         |          CASE WHEN s.score > thr.t
         |            OR (s.score = thr.t AND s.doc_id <= bid.i)
         |          THEN 1 ELSE 0 END AS selected
         |        FROM s JOIN thr USING (lang)
         |          JOIN bid ON bid.lang = s.lang AND bid.b = thr.b)
         |SELECT sel.lang, sel.b AS budget_tokens,
         |  sel.t AS threshold_score, sel.i AS boundary_id,
         |  CAST(sum(selected) AS BIGINT) AS n_selected,
         |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
         |    AS BIGINT) AS tokens_selected,
         |  tot.n_docs, tot.total AS tokens_total,
         |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
         |    * 1000000 // sel.b AS BIGINT) AS fill_ppm
         |FROM sel JOIN tot USING (lang)
         |GROUP BY sel.lang, sel.b, sel.t, sel.i, tot.n_docs, tot.total
         |ORDER BY sel.lang, budget_tokens""".stripMargin
    },

    // Two-level cap sweep: ext175's two-stage replay crossed with the
    // caps VALUES ladder — per-cap stage-1 per-lang threshold/
    // boundary, survivor set, stage-2 global threshold/boundary over
    // each cap's survivors, one card row per cap (empty-survivor
    // rungs LEFT-JOIN to null threshold/boundary with telemetry
    // intact). Validated equal to an independent two-stage prefix
    // replay — masses AND exact survivor sets — before wiring; the
    // shared rung equals ext175's card.
    "ext177_cap_sweep" -> {
      val capsLadder = StratumFillBudgets.map(c => s"($c)").mkString(", ")
      val g = TwoLevelGlobalTokens
      s"""WITH cs AS (SELECT CAST(c AS BIGINT) AS c
         |          FROM (VALUES $capsLadder) v(c)),
         |d AS (SELECT lang, doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(string_split(text,' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
         |  FROM documents),
         |s AS (SELECT lang, doc_id, n_toks,
         |    CAST(least(n_toks*10000, 1000000)//2
         |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
         |  FROM d),
         |tot1 AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS total,
         |                min(score) AS smin, max(doc_id) AS imax
         |         FROM s GROUP BY lang),
         |cls1 AS (SELECT lang, score,
         |           CAST(sum(n_toks) AS BIGINT) AS ct
         |         FROM s GROUP BY lang, score),
         |ca1 AS (SELECT lang, score, CAST(COALESCE(sum(ct) OVER (
         |          PARTITION BY lang ORDER BY score DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING
         |          AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls1),
         |thr1 AS (SELECT tot1.lang, cs.c, CASE
         |           WHEN tot1.total <= cs.c THEN tot1.smin - 1
         |           ELSE (SELECT min(score) FROM ca1
         |                 WHERE ca1.lang = tot1.lang AND above <= cs.c)
         |           END AS t
         |         FROM tot1, cs),
         |base1 AS (SELECT thr1.lang, thr1.c,
         |            CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS m
         |          FROM thr1 LEFT JOIN s
         |            ON s.lang = thr1.lang AND s.score > thr1.t
         |          GROUP BY thr1.lang, thr1.c),
         |ccum1 AS (SELECT thr1.c, s.lang, s.doc_id,
         |            CAST(sum(s.n_toks) OVER (PARTITION BY thr1.c,
         |              s.lang ORDER BY s.doc_id
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumt
         |          FROM s JOIN thr1
         |            ON s.lang = thr1.lang AND s.score = thr1.t),
         |ctot1 AS (SELECT thr1.lang, thr1.c,
         |            CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS ct
         |          FROM thr1 LEFT JOIN s
         |            ON s.lang = thr1.lang AND s.score = thr1.t
         |          GROUP BY thr1.lang, thr1.c),
         |bid1 AS (SELECT thr1.lang, thr1.c, CASE
         |           WHEN base1.m + ctot1.ct <= thr1.c THEN tot1.imax
         |           ELSE (SELECT min(cc.doc_id) FROM ccum1 cc
         |                 WHERE cc.lang = thr1.lang AND cc.c = thr1.c
         |                   AND base1.m + cc.cumt > thr1.c) - 1
         |           END AS i
         |         FROM thr1 JOIN base1 USING (lang, c)
         |           JOIN ctot1 USING (lang, c) JOIN tot1 USING (lang)),
         |surv AS (SELECT thr1.c, s.doc_id, s.n_toks, s.score
         |         FROM s JOIN thr1 USING (lang)
         |           JOIN bid1 ON bid1.lang = s.lang AND bid1.c = thr1.c
         |         WHERE s.score > thr1.t
         |           OR (s.score = thr1.t AND s.doc_id <= bid1.i)),
         |tot2 AS (SELECT c, CAST(sum(n_toks) AS BIGINT) AS total,
         |                CAST(count(*) AS BIGINT) AS n_surv,
         |                min(score) AS smin, max(doc_id) AS imax
         |         FROM surv GROUP BY c),
         |cls2 AS (SELECT c, score, CAST(sum(n_toks) AS BIGINT) AS ct
         |         FROM surv GROUP BY c, score),
         |ca2 AS (SELECT c, score, CAST(COALESCE(sum(ct) OVER (
         |          PARTITION BY c ORDER BY score DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING
         |          AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls2),
         |thr2 AS (SELECT tot2.c, CASE WHEN tot2.total <= $g
         |           THEN tot2.smin - 1
         |           ELSE (SELECT min(score) FROM ca2
         |                 WHERE ca2.c = tot2.c AND above <= $g)
         |           END AS t
         |         FROM tot2),
         |base2 AS (SELECT thr2.c,
         |            CAST(COALESCE(sum(surv.n_toks), 0) AS BIGINT) AS m
         |          FROM thr2 LEFT JOIN surv
         |            ON surv.c = thr2.c AND surv.score > thr2.t
         |          GROUP BY thr2.c),
         |ccum2 AS (SELECT thr2.c, surv.doc_id,
         |            CAST(sum(surv.n_toks) OVER (PARTITION BY thr2.c
         |              ORDER BY surv.doc_id ROWS UNBOUNDED PRECEDING)
         |              AS BIGINT) AS cumt
         |          FROM surv JOIN thr2
         |            ON surv.c = thr2.c AND surv.score = thr2.t),
         |ctot2 AS (SELECT thr2.c,
         |            CAST(COALESCE(sum(surv.n_toks), 0) AS BIGINT) AS ct
         |          FROM thr2 LEFT JOIN surv
         |            ON surv.c = thr2.c AND surv.score = thr2.t
         |          GROUP BY thr2.c),
         |bid2 AS (SELECT thr2.c, CASE
         |           WHEN base2.m + ctot2.ct <= $g THEN tot2.imax
         |           ELSE (SELECT min(cc.doc_id) FROM ccum2 cc
         |                 WHERE cc.c = thr2.c
         |                   AND base2.m + cc.cumt > $g) - 1
         |           END AS i
         |         FROM thr2 JOIN base2 USING (c) JOIN ctot2 USING (c)
         |           JOIN tot2 USING (c)),
         |selagg AS (SELECT surv.c,
         |             CAST(COALESCE(sum(CASE WHEN surv.score > thr2.t
         |               OR (surv.score = thr2.t
         |                   AND surv.doc_id <= bid2.i)
         |               THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_selected,
         |             CAST(COALESCE(sum(CASE WHEN surv.score > thr2.t
         |               OR (surv.score = thr2.t
         |                   AND surv.doc_id <= bid2.i)
         |               THEN surv.n_toks END), 0) AS BIGINT)
         |               AS tokens_selected
         |           FROM surv JOIN thr2 USING (c) JOIN bid2 USING (c)
         |           GROUP BY surv.c),
         |gtot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |                CAST(sum(n_toks) AS BIGINT) AS tokens_total
         |         FROM s)
         |SELECT cs.c AS cap_tokens, thr2.t AS threshold_score,
         |  bid2.i AS boundary_id,
         |  COALESCE(selagg.n_selected, 0) AS n_selected,
         |  COALESCE(selagg.tokens_selected, 0) AS tokens_selected,
         |  COALESCE(tot2.n_surv, 0) AS n_surv,
         |  COALESCE(tot2.total, 0) AS tokens_surv,
         |  gtot.n_docs, gtot.tokens_total,
         |  CAST($g AS BIGINT) AS budget_tokens,
         |  CAST(COALESCE(selagg.tokens_selected, 0) * 1000000 // $g
         |    AS BIGINT) AS fill_ppm
         |FROM cs LEFT JOIN tot2 ON tot2.c = cs.c
         |  LEFT JOIN thr2 ON thr2.c = cs.c
         |  LEFT JOIN bid2 ON bid2.c = cs.c
         |  LEFT JOIN selagg ON selagg.c = cs.c, gtot
         |ORDER BY cap_tokens""".stripMargin
    },

    // Corpus snapshot diff: both engines derive the identical "old"
    // snapshot from the table, full-outer-join on id, classify
    // (added / removed / moved-trumps-changed / changed / unchanged),
    // attribute each doc to its NEW stratum and its OLD stratum
    // (moved mass leaves one row and arrives in another), aggregate.
    // Validated against an independent set-operation recount of
    // every class before wiring.
    "ext178_corpus_diff" ->
      """WITH newd AS (SELECT doc_id, lang, text FROM documents),
        |mx AS (SELECT max(doc_id) + 1 AS sh FROM documents),
        |oldd AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0 THEN 'xx' ELSE lang END AS lang,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' legacy'
        |      ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + (SELECT sh FROM mx), lang, text
        |  FROM documents WHERE doc_id % 13 = 0),
        |j AS (SELECT n.doc_id AS nid, o.doc_id AS oid,
        |        n.lang AS ns, o.lang AS os,
        |        md5(n.text) AS nt, md5(o.text) AS ot,
        |        CAST(len(string_split(n.text,' ')) AS BIGINT) AS ntoks,
        |        CAST(len(string_split(o.text,' ')) AS BIGINT) AS otoks
        |      FROM newd n FULL OUTER JOIN oldd o
        |        ON n.doc_id = o.doc_id),
        |contrib AS (
        |  SELECT ns AS s,
        |    CASE WHEN oid IS NULL THEN 1 ELSE 0 END AS a, 0 AS r,
        |    CASE WHEN oid IS NOT NULL AND ns IS NOT DISTINCT FROM os
        |      AND nt IS DISTINCT FROM ot THEN 1 ELSE 0 END AS c,
        |    CASE WHEN oid IS NOT NULL AND ns IS DISTINCT FROM os
        |      THEN 1 ELSE 0 END AS mi,
        |    0 AS mo,
        |    CASE WHEN oid IS NOT NULL AND ns IS NOT DISTINCT FROM os
        |      AND nt IS NOT DISTINCT FROM ot THEN 1 ELSE 0 END AS u,
        |    ntoks AS tn, 0 AS tok_o
        |  FROM j WHERE nid IS NOT NULL
        |  UNION ALL
        |  SELECT os, 0,
        |    CASE WHEN nid IS NULL THEN 1 ELSE 0 END, 0, 0,
        |    CASE WHEN nid IS NOT NULL AND ns IS DISTINCT FROM os
        |      THEN 1 ELSE 0 END, 0, 0, otoks
        |  FROM j WHERE oid IS NOT NULL)
        |SELECT s AS lang,
        |  CAST(sum(a) AS BIGINT) AS n_added,
        |  CAST(sum(r) AS BIGINT) AS n_removed,
        |  CAST(sum(c) AS BIGINT) AS n_changed,
        |  CAST(sum(mi) AS BIGINT) AS n_moved_in,
        |  CAST(sum(mo) AS BIGINT) AS n_moved_out,
        |  CAST(sum(u) AS BIGINT) AS n_unchanged,
        |  CAST(sum(tn) AS BIGINT) AS tokens_new,
        |  CAST(sum(tok_o) AS BIGINT) AS tokens_old,
        |  CAST(sum(tn) - sum(tok_o) AS BIGINT) AS token_delta
        |FROM contrib GROUP BY s ORDER BY lang""".stripMargin,

    // Versioned corpus diff: the oracle replays BOTH halves of the
    // serve independently — the keep-latest fold (version-1 rows
    // override version-0 rows per id; applied directly, since the
    // mods are deterministic) and the (score, toks)-fingerprint
    // classification. Validated in DuckDB against an independent
    // set-operation recount of every class (39/0/67/30/30/403 at
    // sf0.01) and token conservation (Σ token_delta == tokens of
    // the added docs) before wiring.
    "ext179_corpus_diff_versioned" ->
      s"""WITH d AS (SELECT lang, doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(string_split(text,' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
         |  FROM documents),
         |s AS (SELECT lang, doc_id, n_toks,
         |    CAST(least(n_toks*10000, 1000000)//2
         |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
         |  FROM d),
         |mx AS (SELECT max(doc_id) + 1 AS sh FROM documents),
         |snap0 AS (SELECT lang, doc_id, score, n_toks FROM s),
         |snap1 AS (
         |  SELECT CASE WHEN doc_id % 17 = 0 THEN 'xx' ELSE lang END
         |      AS lang,
         |    doc_id,
         |    CASE WHEN doc_id % 17 <> 0 AND doc_id % 7 = 0
         |      THEN score + 1 ELSE score END AS score, n_toks
         |  FROM s
         |  UNION ALL
         |  SELECT lang, doc_id + (SELECT sh FROM mx), score, n_toks
         |  FROM s WHERE doc_id % 13 = 0),
         |j AS (SELECT n.doc_id AS nid, o.doc_id AS oid, n.lang AS ns,
         |        o.lang AS os, n.score AS nsc, o.score AS osc,
         |        n.n_toks AS ntk, o.n_toks AS otk
         |      FROM snap1 n FULL OUTER JOIN snap0 o
         |        ON n.doc_id = o.doc_id),
         |contrib AS (
         |  SELECT ns AS s2,
         |    CASE WHEN oid IS NULL THEN 1 ELSE 0 END AS a, 0 AS r,
         |    CASE WHEN oid IS NOT NULL AND ns IS NOT DISTINCT FROM os
         |      AND (nsc IS DISTINCT FROM osc
         |        OR ntk IS DISTINCT FROM otk)
         |      THEN 1 ELSE 0 END AS c,
         |    CASE WHEN oid IS NOT NULL AND ns IS DISTINCT FROM os
         |      THEN 1 ELSE 0 END AS mi,
         |    0 AS mo,
         |    CASE WHEN oid IS NOT NULL AND ns IS NOT DISTINCT FROM os
         |      AND nsc IS NOT DISTINCT FROM osc
         |      AND ntk IS NOT DISTINCT FROM otk
         |      THEN 1 ELSE 0 END AS u,
         |    ntk AS tn, 0 AS tok_o
         |  FROM j WHERE nid IS NOT NULL
         |  UNION ALL
         |  SELECT os, 0, CASE WHEN nid IS NULL THEN 1 ELSE 0 END,
         |    0, 0,
         |    CASE WHEN nid IS NOT NULL AND ns IS DISTINCT FROM os
         |      THEN 1 ELSE 0 END, 0, 0, otk
         |  FROM j WHERE oid IS NOT NULL)
         |SELECT s2 AS lang,
         |  CAST(sum(a) AS BIGINT) AS n_added,
         |  CAST(sum(r) AS BIGINT) AS n_removed,
         |  CAST(sum(c) AS BIGINT) AS n_changed,
         |  CAST(sum(mi) AS BIGINT) AS n_moved_in,
         |  CAST(sum(mo) AS BIGINT) AS n_moved_out,
         |  CAST(sum(u) AS BIGINT) AS n_unchanged,
         |  CAST(sum(tn) AS BIGINT) AS tokens_new,
         |  CAST(sum(tok_o) AS BIGINT) AS tokens_old,
         |  CAST(sum(tn) - sum(tok_o) AS BIGINT) AS token_delta
         |FROM contrib GROUP BY s2 ORDER BY lang""".stripMargin,

    // Two-level budget: stage 1 = ext173's per-lang replay at the
    // cap; stage 2 = ext172's replay over the surviving rows; card
    // carries both levels. Validated equal to an independent
    // two-stage prefix replay (counts AND selection set) before
    // wiring.
    "ext175_two_level_budget" -> {
      val cap = StratumBudgetTokens
      val g = TwoLevelGlobalTokens
      s"""WITH d AS (SELECT lang, doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
         |    CAST(len(list_filter(string_split(text,' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS n_stop
         |  FROM documents),
         |s AS (SELECT lang, doc_id, n_toks,
         |    CAST(least(n_toks*10000, 1000000)//2
         |      + (n_stop*1000000//n_toks)//2 AS BIGINT) AS score
         |  FROM d),
         |tot1 AS (SELECT lang, CAST(sum(n_toks) AS BIGINT) AS total,
         |                min(score) AS smin, max(doc_id) AS imax
         |         FROM s GROUP BY lang),
         |cls1 AS (SELECT lang, score,
         |           CAST(sum(n_toks) AS BIGINT) AS ct
         |         FROM s GROUP BY lang, score),
         |ca1 AS (SELECT lang, score, CAST(COALESCE(sum(ct) OVER (
         |          PARTITION BY lang ORDER BY score DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING
         |          AND 1 PRECEDING), 0) AS BIGINT) AS above FROM cls1),
         |thr1 AS (SELECT tot1.lang, CASE WHEN tot1.total <= $cap
         |           THEN tot1.smin - 1
         |           ELSE (SELECT min(score) FROM ca1
         |                 WHERE ca1.lang = tot1.lang
         |                   AND above <= $cap)
         |           END AS t
         |         FROM tot1),
         |base1 AS (SELECT thr1.lang,
         |            CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS m
         |          FROM thr1 LEFT JOIN s
         |            ON s.lang = thr1.lang AND s.score > thr1.t
         |          GROUP BY thr1.lang),
         |ccum1 AS (SELECT s.lang, s.doc_id,
         |            CAST(sum(s.n_toks) OVER (PARTITION BY s.lang
         |              ORDER BY s.doc_id ROWS UNBOUNDED PRECEDING)
         |              AS BIGINT) AS cumt
         |          FROM s JOIN thr1
         |            ON s.lang = thr1.lang AND s.score = thr1.t),
         |ctot1 AS (SELECT thr1.lang,
         |            CAST(COALESCE(sum(s.n_toks), 0) AS BIGINT) AS ct
         |          FROM thr1 LEFT JOIN s
         |            ON s.lang = thr1.lang AND s.score = thr1.t
         |          GROUP BY thr1.lang),
         |bid1 AS (SELECT thr1.lang, CASE
         |           WHEN base1.m + ctot1.ct <= $cap THEN tot1.imax
         |           ELSE (SELECT min(cc.doc_id) FROM ccum1 cc
         |                 WHERE cc.lang = thr1.lang
         |                   AND base1.m + cc.cumt > $cap) - 1
         |           END AS i
         |         FROM thr1 JOIN base1 USING (lang)
         |           JOIN ctot1 USING (lang) JOIN tot1 USING (lang)),
         |surv AS (SELECT s.doc_id, s.n_toks, s.score
         |         FROM s JOIN thr1 USING (lang) JOIN bid1 USING (lang)
         |         WHERE s.score > thr1.t
         |           OR (s.score = thr1.t AND s.doc_id <= bid1.i)),
         |tot2 AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total,
         |                CAST(count(*) AS BIGINT) AS n_surv,
         |                min(score) AS smin, max(doc_id) AS imax
         |         FROM surv),
         |cls2 AS (SELECT score, CAST(sum(n_toks) AS BIGINT) AS ct
         |         FROM surv GROUP BY score),
         |ca2 AS (SELECT score, CAST(COALESCE(sum(ct) OVER (
         |          ORDER BY score DESC ROWS BETWEEN UNBOUNDED
         |          PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS above
         |        FROM cls2),
         |thr2 AS (SELECT CASE WHEN (SELECT total FROM tot2) <= $g
         |           THEN (SELECT smin FROM tot2) - 1
         |           ELSE (SELECT min(score) FROM ca2 WHERE above <= $g)
         |           END AS t),
         |base2 AS (SELECT CAST(COALESCE(sum(n_toks), 0) AS BIGINT)
         |            AS m
         |          FROM surv, thr2 WHERE score > t),
         |ccum2 AS (SELECT doc_id,
         |            CAST(sum(n_toks) OVER (ORDER BY doc_id
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumt
         |          FROM surv, thr2 WHERE score = t),
         |ctot2 AS (SELECT CAST(COALESCE(sum(n_toks), 0) AS BIGINT)
         |            AS ct
         |          FROM surv, thr2 WHERE score = t),
         |bid2 AS (SELECT CASE
         |           WHEN (SELECT m FROM base2) + (SELECT ct FROM ctot2)
         |             <= $g THEN (SELECT imax FROM tot2)
         |           ELSE (SELECT min(doc_id) FROM ccum2
         |                 WHERE (SELECT m FROM base2) + cumt > $g) - 1
         |           END AS i),
         |sel2 AS (SELECT surv.*,
         |           CASE WHEN score > (SELECT t FROM thr2)
         |             OR (score = (SELECT t FROM thr2)
         |                 AND doc_id <= (SELECT i FROM bid2))
         |           THEN 1 ELSE 0 END AS selected FROM surv)
         |SELECT (SELECT t FROM thr2) AS threshold_score,
         |  (SELECT i FROM bid2) AS boundary_id,
         |  CAST(COALESCE(sum(selected), 0) AS BIGINT) AS n_selected,
         |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
         |    AS BIGINT) AS tokens_selected,
         |  COALESCE((SELECT n_surv FROM tot2), 0) AS n_surv,
         |  COALESCE((SELECT total FROM tot2), 0) AS tokens_surv,
         |  (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_docs,
         |  (SELECT CAST(sum(n_toks) AS BIGINT) FROM s)
         |    AS tokens_total,
         |  CAST($cap AS BIGINT) AS cap_tokens,
         |  CAST($g AS BIGINT) AS budget_tokens,
         |  CAST(COALESCE(sum(CASE WHEN selected=1 THEN n_toks END),0)
         |    * 1000000 // $g AS BIGINT) AS fill_ppm
         |FROM sel2""".stripMargin
    },

    // Temporal split: cutoff = k-th order statistic via row_number
    // (identical to the bisection's smallest-reaching-value rule,
    // k = ceil(80*n/100)), then the per-user segment fold.
    "ext170_temporal_split" ->
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
        |FROM pu""".stripMargin,

    // Bloom semi-join: the same md5-based portable hash + (a*h+b)%p%m
    // positions, pass = all 3 positions in the dim bit set, ledger
    // aggregated over the fact scan.
    "ext168_bloom_semijoin" -> {
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
    },

    // Label association: distinct presence explode, vocab x label cell
    // table, HUGEINT ratio, bit-length octave, top-k.
    "ext167_label_assoc" ->
      """WITH pres AS (
        |  SELECT DISTINCT doc_id, lang AS label,
        |         unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |cells AS (SELECT token, label, CAST(count(*) AS BIGINT) AS a
        |          FROM pres GROUP BY 1, 2 HAVING count(*) >= 5),
        |tt AS (SELECT token, CAST(count(*) AS BIGINT) AS n_tok
        |       FROM pres GROUP BY 1),
        |lt AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_lab
        |       FROM documents GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        |SELECT token, label, a, n_tok, n_lab,
        |       CAST(CAST(a AS HUGEINT) * n * 1000000
        |            // (CAST(n_tok AS HUGEINT) * n_lab) AS BIGINT)
        |         AS ratio_ppm,
        |       CAST(length(bin(greatest(
        |         CAST(CAST(a AS HUGEINT) * n * 1000000
        |              // (CAST(n_tok AS HUGEINT) * n_lab) AS BIGINT),
        |         1))) AS BIGINT) - 20 AS pmi_oct
        |FROM cells JOIN tt USING (token) JOIN lt USING (label), nn
        |ORDER BY ratio_ppm DESC, token, label LIMIT 50""".stripMargin,

    // Burstiness: span-normalized Fano factor in ppm, HUGEINT cross
    // terms, bursty flag at the Poisson baseline.
    "ext166_burstiness" ->
      """WITH c AS (
        |  SELECT event_type AS entity,
        |         epoch_us(ts) // 86400000000 AS x,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT entity,
        |         CAST(max(x) - min(x) + 1 AS BIGINT) AS n_periods,
        |         CAST(sum(y) AS BIGINT) AS total,
        |         sum(CAST(y AS HUGEINT) * y) AS s2
        |  FROM c GROUP BY 1),
        |f AS (
        |  SELECT entity, n_periods, total,
        |         CAST((1000000 * (CAST(n_periods AS HUGEINT) * s2
        |              - CAST(total AS HUGEINT) * total))
        |              // (CAST(n_periods AS HUGEINT) * total)
        |           AS BIGINT) AS fano_ppm
        |  FROM a)
        |SELECT entity, n_periods, total, fano_ppm,
        |       CAST(CASE WHEN fano_ppm > 1000000 THEN 1 ELSE 0 END
        |         AS BIGINT) AS bursty
        |FROM f ORDER BY entity""".stripMargin,

    // BM25: same integer pipeline — ppm odds-ratio idf, milli length
    // normalization, HUGEINT product sum, // 1e6 at the end.
    "ext165_bm25_topk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
        |           FROM documents),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |              CAST(sum(len(tk)) * 1000 // count(*) AS BIGINT)
        |                AS avgdl_milli FROM d),
        |h AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl,
        |             unnest(tk) AS t FROM d),
        |hits AS (SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf
        |         FROM h WHERE t IN ('spark', 'window', 'join')
        |         GROUP BY 1, 2, 3),
        |dfr AS (SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM hits GROUP BY 1),
        |sc AS (SELECT doc_id,
        |         CAST((2 * CAST(st.n AS HUGEINT) + 2) * 1000000
        |              // (2 * df + 1) AS BIGINT) AS idf_ppm,
        |         tf,
        |         tf * 1000 + (1200 * (250 +
        |           (750 * (dl * 1000000 // st.avgdl_milli)) // 1000))
        |           // 1000 AS den_milli
        |       FROM hits JOIN dfr USING (t), st)
        |SELECT doc_id,
        |       CAST(sum(CAST(idf_ppm AS HUGEINT) *
        |                (tf * 2200000 // den_milli)) // 1000000
        |         AS BIGINT) AS score
        |FROM sc GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // Frequency spectrum: count classes with folded tail, token mass,
    // Good-Turing adjusted ppm via the r+1 self-join.
    "ext162_freq_spectrum" ->
      """WITH c AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS t
        |    FROM documents) GROUP BY 1),
        |cls AS (
        |  SELECT CASE WHEN c <= 10 THEN c ELSE -1 END AS r,
        |         CAST(count(*) AS BIGINT) AS n_types,
        |         CAST(SUM(c) AS BIGINT) AS token_mass
        |  FROM c GROUP BY 1)
        |SELECT a.r, a.n_types, a.token_mass,
        |       CAST(CASE WHEN a.r > 0 AND b.n_types IS NOT NULL
        |            THEN ((a.r + 1) * b.n_types * 1000000) // a.n_types
        |            ELSE 0 END AS BIGINT) AS gt_rstar_ppm
        |FROM cls a LEFT JOIN cls b ON b.r = a.r + 1
        |ORDER BY a.r""".stripMargin,

    // Anomaly days: lower-median + lower-MAD per entity over the daily
    // count matrix, flag = dev > 7 x greatest(mad, 1) — all int64 rank
    // statistics, zero divisions.
    "ext158_anomaly_days" ->
      """WITH c AS (
        |  SELECT event_type AS entity,
        |         epoch_us(ts) // 86400000000 AS x,
        |         CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY entity ORDER BY y)
        |          AS rn,
        |        count(*) OVER (PARTITION BY entity) AS n FROM c),
        |m AS (SELECT entity, y AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT c.entity, x, y, med, abs(y - med) AS dev
        |      FROM c JOIN m USING (entity)),
        |r2 AS (SELECT *,
        |         row_number() OVER (PARTITION BY entity ORDER BY dev)
        |           AS rn2,
        |         count(*) OVER (PARTITION BY entity) AS n2 FROM d),
        |m2 AS (SELECT entity, dev AS mad FROM r2
        |       WHERE rn2 = (n2 + 1) // 2)
        |SELECT d.entity, x, y, med, mad, dev,
        |       CAST(CASE WHEN dev > 7 * greatest(mad, 1) THEN 1 ELSE 0
        |            END AS BIGINT) AS flag
        |FROM d JOIN m2 USING (entity)
        |ORDER BY entity, x""".stripMargin,


    // The same Gonzalez rounds unrolled: seed = (max n2, min id), each
    // round distances-to-last-pick folded into a running min (same
    // VALUE as the operator's min-over-set — exact ints), argmax with
    // (mind DESC, vec_id) ties, already-selected excluded.
    "ext138_kcenter_coreset" -> {
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
    },

    // The same min-ts step chain: each step joins the shrinking
    // survivor relation, strictly-after + 7-day-horizon predicates on
    // epoch-µs ints, ppm DIVs off a lag/first window over the 4-row
    // summary.
    "ext139_funnel" -> {
      val steps = Seq("signup", "view", "click", "purchase")
      val h = 7L * 86400000000L
      val ctes = new StringBuilder
      ctes ++=
        s"""u1 AS (SELECT user_id AS uid, min(epoch_us(ts)) AS t1,
           |         min(epoch_us(ts)) AS tp
           |       FROM events WHERE event_type = '${steps.head}'
           |       GROUP BY 1),
           |""".stripMargin
      for (i <- 2 to steps.size) {
        ctes ++=
          s"""u$i AS (SELECT e.user_id AS uid, u${i - 1}.t1,
             |         min(epoch_us(e.ts)) AS tp
             |       FROM events e JOIN u${i - 1} ON u${i - 1}.uid = e.user_id
             |       WHERE e.event_type = '${steps(i - 1)}'
             |         AND epoch_us(e.ts) > u${i - 1}.tp
             |         AND epoch_us(e.ts) <= u${i - 1}.t1 + $h
             |       GROUP BY 1, 2),
             |""".stripMargin
      }
      val counts = steps.zipWithIndex.map { case (name, i) =>
        s"""SELECT CAST(${i + 1} AS BIGINT) AS step, '$name' AS step_name,
           |             CAST(count(*) AS BIGINT) AS users FROM u${i + 1}"""
          .stripMargin
      }.mkString("\n      UNION ALL ")
      s"""WITH ${ctes.toString.stripSuffix(",\n")},
         |c AS ($counts),
         |w AS (SELECT *, lag(users) OVER (ORDER BY step) AS prev,
         |        first_value(users) OVER (ORDER BY step
         |          ROWS BETWEEN UNBOUNDED PRECEDING
         |          AND UNBOUNDED FOLLOWING) AS frst
         |      FROM c)
         |SELECT step, step_name, users,
         |       CASE WHEN prev IS NULL THEN 1000000
         |            WHEN prev = 0 THEN 0
         |            ELSE (1000000 * users) // prev END AS conv_prev_ppm,
         |       CASE WHEN frst = 0 THEN 0
         |            ELSE (1000000 * users) // frst END AS conv_first_ppm
         |FROM w ORDER BY step""".stripMargin
    },

    // Same cluster CTE chain as ext130, then the head/serpentine/hash
    // fold algebra: top-64 groups by (mass DESC, key) dealt
    // boustrophedon over 5 folds, tail = portable hash of
    // 'fold:<group>' mod 5.
    "ext140_balanced_folds" -> {
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
    },

    // ext79's weights recomputed (same cluster CTE chain), then the
    // ext39 weighted-draw replay with weight = weight_ppm.
    "ext130_soft_dedup_sample" ->
      s"""WITH RECURSIVE $clusterCtes,
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id
         |       FROM reach GROUP BY 1),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |       FROM cl GROUP BY 1),
         |m AS (SELECT cl.doc_id, sz.n_members
         |      FROM cl JOIN sz USING (cluster_id)),
         |w AS (SELECT d.doc_id, d.source,
         |             COALESCE(m.n_members, 1) AS n_members,
         |             CAST(1000000 // COALESCE(m.n_members, 1) AS BIGINT)
         |               AS weight_ppm
         |      FROM documents d LEFT JOIN m USING (doc_id)),
         |h AS (SELECT *,
         |        CAST(${hashSql("'softdd:' || CAST(doc_id AS VARCHAR)")}
         |             AS DOUBLE) / CAST(weight_ppm AS DOUBLE) AS pri
         |      FROM w),
         |r AS (SELECT doc_id, source, n_members, weight_ppm,
         |             row_number() OVER (
         |               PARTITION BY source ORDER BY pri, doc_id) AS rank
         |      FROM h)
         |SELECT doc_id, source, n_members, weight_ppm,
         |       CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 20
         |ORDER BY source, rank""".stripMargin,

    // BPE: the same three unrolled rounds — pair counts (overlapping
    // adjacencies count), (count DESC, a, b) argmax, run-parity greedy
    // merge via two windows, anti-join of absorbed positions, dense
    // renumber.
    // MATERIALIZED (r14): each round's p$r references s$(r-1) twice and
    // s$r references p/mg/t chains again — default inlining re-derives
    // the previous state ~2x per round (2^depth work).
    "ext111_bpe_merges" -> materializeCtes(
      s"""$bpeCtes
         |${(1 to 3).map(r =>
            s"SELECT CAST($r AS BIGINT) AS merge_rank, a AS left_sym, " +
            s"b AS right_sym, pair_count FROM t$r")
          .mkString("\nUNION ALL\n")}
         |ORDER BY merge_rank""".stripMargin),

    // Estimator audit: per-word symbol counts off the post-merge state
    // s3 (+ over-cap chars as single symbols), joined to per-lang word
    // instance counts; the heuristic is (len+3) DIV 4 per word.
    "ext112_bpe_estimate_audit" -> materializeCtes(
      s"""$bpeCtes,
         |wc AS (
         |  SELECT word,
         |         CAST(count(*) + greatest(length(word)
         |           - ${TextOps.BpeMaxWordLen}, 0) AS BIGINT) AS n_syms
         |  FROM s3 GROUP BY word),
         |lw AS (
         |  SELECT lang, tok AS word, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
         |        FROM documents) GROUP BY 1, 2),
         |card AS (
         |  SELECT lang,
         |         CAST(SUM(l.n) AS BIGINT) AS ws_tokens,
         |         CAST(SUM(l.n * wc.n_syms) AS BIGINT)
         |           AS bpe_tokens_true,
         |         CAST(SUM(l.n * ((length(l.word) + 3) // 4)) AS BIGINT)
         |           AS bpe_tokens_est
         |  FROM lw l JOIN wc USING (word) GROUP BY 1)
         |SELECT lang, ws_tokens, bpe_tokens_true, bpe_tokens_est,
         |       CAST(CASE WHEN bpe_tokens_true = 0 THEN 0
         |            ELSE (abs(bpe_tokens_est - bpe_tokens_true)
         |                  * 1000000) // bpe_tokens_true END AS BIGINT)
         |         AS est_err_ppm
         |FROM card ORDER BY lang""".stripMargin),

    // Containment: ext02's inter/sizes chain, integer ppm divisions.
    "ext113_containment_pairs" ->
      s"""$ShingleSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b USING (h)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
         |       CAST((n_inter * 1000000) // least(na.n, nb.n) AS BIGINT)
         |         AS containment_ppm,
         |       CAST((n_inter * 1000000) // (na.n + nb.n - n_inter)
         |         AS BIGINT) AS jaccard_ppm
         |FROM inter JOIN sizes na ON na.doc_id = id_a
         |           JOIN sizes nb ON nb.doc_id = id_b
         |WHERE (n_inter * 1000000) // least(na.n, nb.n) >= 800000
         |ORDER BY id_a, id_b""".stripMargin,

    // Exact integer percent-rank over the same (signal, id) order.
    "ext116_rank_normalize" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY n_chars ASC, doc_id ASC) AS rk,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |       CAST(CASE WHEN n = 1 THEN 0
        |            ELSE ((rk - 1) * 1000000) // (n - 1) END AS BIGINT)
        |         AS pct_ppm
        |FROM r ORDER BY doc_id""".stripMargin,

    // Correlation: the same exact int64 moments, the same fixed IEEE
    // corr expression per pair; pairs generated in the same order.
    "ext115_signal_correlation" -> {
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
    },

    // The salted rewrite must be invisible in results: the oracle is
    // the PLAIN join + aggregate.
    "ext114_salted_join" ->
      """SELECT p_brand,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
        |            AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |GROUP BY 1 ORDER BY p_brand""".stripMargin,

    // IVF-PQ + exact rerank: the `v`-prefixed Lloyd's chain is the IVF
    // coarse quantizer (va3 = corpus argmin bucket, vd3 = the final
    // distances the query's probe ranks come from), the shared ADC
    // chain supplies the all-pairs ADC scores (spqs), the bucket
    // restriction keeps only pairs whose target bucket is among the
    // query's 2 probed buckets, and the exact-cosine rerank of the
    // top-20 ADC candidates is the final ranking.
    "ext117_ivfpq_topk" ->
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
         |FROM rer WHERE rk <= 3 ORDER BY q_id, rank""".stripMargin,

    // The curve: one bucket-restricted ADC ranking + exact rerank per
    // probe level off the SAME chains, each scored against the exact
    // brute-force top-3 (truth) by the shared recall-row tail.
    "ext118_ivfpq_probe_curve" ->
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
         |ORDER BY probes""".stripMargin,

    // Prototype pruning: a3 = the kmeans assignment, cm = the
    // floor-quantized member-mean centroid per bucket (the kmeans
    // update rule), exact |v-c|^2, integer percent-rank per bucket,
    // keep the hard half (proto_ppm >= 500000).
    "ext119_prototype_pruning" ->
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
         |FROM pp ORDER BY vec_id""".stripMargin,

    // Two-phase ledger: one counts CTE feeds the proportional bulk
    // weights and the ext62 sqrt-temperature anneal weights; budgets
    // split by exact integer ppm (inlined from the same constants the
    // Spark side uses).
    "ext121_anneal_ledger" -> {
      val annealBudget = TokenBudget * 100000L / 1000000L
      val bulkBudget = TokenBudget - annealBudget
      s"""WITH c AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
         |           AS n_tokens
         |  FROM documents GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nd FROM c),
         |q AS (SELECT source, n_docs, n_tokens,
         |             CAST(floor(1000000.0 * sqrt(CAST(n_docs AS DOUBLE)))
         |               AS BIGINT) AS q_s
         |      FROM c),
         |qt AS (SELECT CAST(SUM(q_s) AS BIGINT) AS q_tot FROM q),
         |aw AS (SELECT source, n_docs, n_tokens,
         |              CAST(floor(1000000.0 * (CAST(q_s AS DOUBLE)
         |                   / CAST(q_tot AS DOUBLE))) AS BIGINT)
         |                AS weight_q
         |       FROM q, qt),
         |u AS (
         |  SELECT 'bulk' AS phase, source, n_docs, n_tokens,
         |         (n_docs * 1000000) // nd AS weight_q,
         |         (CAST($bulkBudget AS BIGINT)
         |           * ((n_docs * 1000000) // nd)) // 1000000
         |           AS planned_tokens
         |  FROM c, t
         |  UNION ALL
         |  SELECT 'anneal', source, n_docs, n_tokens, weight_q,
         |         (CAST($annealBudget AS BIGINT) * weight_q) // 1000000
         |  FROM aw)
         |SELECT phase, source, n_docs, n_tokens, weight_q,
         |       planned_tokens,
         |       CASE WHEN n_tokens > 0
         |            THEN (planned_tokens * 1000000) // n_tokens
         |            ELSE CAST(0 AS BIGINT) END AS epochs_q
         |FROM u ORDER BY phase, source""".stripMargin
    },

    // Within-doc surgery: per-(doc, h) first positions, repeats cut
    // by coverage, ext96's reassembly tail.
    "ext123_repetition_surgery" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |pos AS (
         |  SELECT doc_id, i,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |f AS (SELECT doc_id, h, min(i) AS i0 FROM pos GROUP BY 1, 2),
         |cut AS (
         |  SELECT DISTINCT p.doc_id, p.i + o AS p
         |  FROM pos p JOIN f USING (doc_id, h), range(0, 3) r(o)
         |  WHERE p.i > f.i0),
         |tkr AS (
         |  SELECT doc_id, unnest(tk) AS tok,
         |         unnest(range(1, len(tk) + 1)) AS p
         |  FROM toks),
         |j AS (
         |  SELECT t.doc_id, t.p, t.tok, c.p AS cp
         |  FROM tkr t LEFT JOIN cut c ON c.doc_id = t.doc_id AND c.p = t.p)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_toks,
         |       CAST(SUM(CASE WHEN cp IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_toks_cut,
         |       COALESCE(string_agg(CASE WHEN cp IS NULL THEN tok END,
         |         ' ' ORDER BY p), '') AS clean_text
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Semantic decontamination: all (corpus, bench) cosines, argmax
    // per corpus vector via the (cos DESC, bid ASC) ranking, flag at
    // the shared near-dup threshold.
    "ext122_semantic_decontamination" ->
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
         |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    // Bucket rebalance: the global Lloyd's (a3) gives the before
    // histogram; buckets above the mean cap replay the SAME Lloyd's
    // within-bucket (bucketSplitCtes), children get composite ids
    // parent*2+rank, kept buckets parent*2; the card is both
    // histograms' extremes in exact int64.
    "ext124_bucket_rebalance" -> materializeCtes(
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
         |FROM bb, aa""".stripMargin),

    // End-to-end curation pipeline: every stage's existing twin CTEs
    // chained over the previous stage's output relation — gopher
    // (ext71) → rep surgery (ext123, prefix r) → span surgery (ext96,
    // prefix s) → semantic flag (ext122's cosine over c3's survivors)
    // → bloom flag (ext102's k-bit probe over c4's CLEANED text) →
    // ext62 mixture → ext59-style pack at ctx 512.
    "ext126_curation_pipeline" -> {
      def bp(j: Int, e: String) =
        s"((($e) * ${Hashing.seedA(j)} + ${Hashing.seedB(j)}) % $P)" +
          s" % ${Sketches.BloomM}"
      def posUnion(src: String, cols: String) =
        (0 until Sketches.BloomK).map(j =>
          s"SELECT $cols, ${bp(j, "h")} AS bit FROM $src")
          .mkString("\n  |  UNION ALL\n  |  ")
      // MATERIALIZED (r14): the stage chain re-reads each prior stage's
      // output several times (16 s -> 0.2 s, identical rows, both SFs).
      materializeCtes(s"""WITH c0 AS (SELECT doc_id, text, source FROM documents
         |        WHERE doc_id >= $NumQueryVecs),
         |gm AS (
         |  SELECT doc_id, text, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |    (CAST(len(replace(text, ' ', '')) AS BIGINT) * 1000)
         |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS mwl_q,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t IN ($stopList))) AS BIGINT) AS stop_hits
         |  FROM c0),
         |c1 AS (SELECT doc_id, text, source FROM gm
         |       WHERE n_toks BETWEEN ${TextOps.GopherMinToks}
         |             AND ${TextOps.GopherMaxToks}
         |         AND mwl_q BETWEEN ${TextOps.GopherMinMwlQ}
         |             AND ${TextOps.GopherMaxMwlQ}
         |         AND stop_hits >= ${TextOps.GopherMinStop}),
         |${surgerySqlCtes("c1", "r", rep = true)},
         |c2 AS (SELECT o.doc_id, o.clean_text AS text, c1.source
         |       FROM rout o JOIN c1 USING (doc_id)),
         |${surgerySqlCtes("c2", "s", rep = false)},
         |c3 AS (SELECT o.doc_id, o.clean_text AS text, c2.source
         |       FROM sout o JOIN c2 USING (doc_id)),
         |${QuantFlatSql.stripPrefix("WITH ")},
         |bd AS (
         |  SELECT a.vec_id AS vid, b.vec_id AS bid,
         |         CAST(SUM(a.qi * b.qi) AS BIGINT) AS dot
         |  FROM flat a JOIN flat b ON b.i = a.i
         |  WHERE a.vec_id IN (SELECT doc_id FROM c3)
         |    AND b.vec_id < $NumQueryVecs
         |  GROUP BY 1, 2),
         |semsc AS (
         |  SELECT vid, CAST(dot AS DOUBLE) /
         |           sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
         |           AS cos
         |  FROM bd JOIN n2 na ON na.vec_id = bd.vid
         |       JOIN n2 nb ON nb.vec_id = bd.bid),
         |semflag AS (SELECT vid AS doc_id FROM semsc GROUP BY 1
         |            HAVING max(cos) >= ${Similarity.NearDupThreshold}),
         |c4 AS (SELECT * FROM c3
         |       WHERE doc_id NOT IN (SELECT doc_id FROM semflag)),
         |btoks AS (SELECT doc_id, string_split(text, ' ') AS tk
         |          FROM documents WHERE doc_id < $NumQueryVecs),
         |bh AS (
         |  SELECT DISTINCT
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM btoks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |c4toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM c4),
         |c4sh AS (
         |  SELECT DISTINCT doc_id,
         |         ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS h
         |  FROM c4toks JOIN range(1, ${Dedup.MaxShinglesPerDoc + 1}) g(i)
         |    ON i <= len(tk) - 2),
         |bbits AS (SELECT DISTINCT bit FROM (
         |  ${posUnion("bh", "h AS bh2")})),
         |bpos AS (
         |  ${posUnion("c4sh", "doc_id, h")}),
         |bhits AS (
         |  SELECT p2.doc_id, p2.h,
         |         CASE WHEN count(b.bit) = ${Sketches.BloomK}
         |              THEN 1 ELSE 0 END AS bloom_hit
         |  FROM bpos p2 LEFT JOIN bbits b USING (bit) GROUP BY 1, 2),
         |bper AS (SELECT doc_id, count(*) AS n_sh,
         |                SUM(bloom_hit) AS n_bloom
         |         FROM bhits GROUP BY 1),
         |bloomflag AS (SELECT doc_id FROM bper
         |              WHERE CAST(n_bloom AS DOUBLE)
         |                    / CAST(n_sh AS DOUBLE)
         |                    >= ${Curation.BloomFlagThreshold}),
         |c5 AS (SELECT * FROM c4
         |       WHERE doc_id NOT IN (SELECT doc_id FROM bloomflag)),
         |mc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
         |                AS n_tokens
         |       FROM c5 GROUP BY 1),
         |mq AS (SELECT source, n_docs, n_tokens,
         |              CAST(floor(1000000.0
         |                * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS q_s
         |       FROM mc),
         |mt AS (SELECT CAST(SUM(q_s) AS BIGINT) AS q_tot FROM mq),
         |mw AS (SELECT source, n_docs,
         |              CAST(floor(1000000.0 * (CAST(q_s AS DOUBLE)
         |                   / CAST(q_tot AS DOUBLE))) AS BIGINT)
         |                AS weight_q
         |       FROM mq, mt),
         |mixrows AS (
         |  SELECT CAST(6 AS BIGINT) AS stage_ord,
         |         'mix:' || source AS stage, n_docs AS docs,
         |         (CAST($TokenBudget AS BIGINT) * weight_q) // 1000000
         |           AS toks,
         |         CAST(0 AS BIGINT) AS removed_docs,
         |         CAST(0 AS BIGINT) AS removed_toks
         |  FROM mw),
         |pk AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |              CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
         |                AS total_toks,
         |              CAST(SUM((len(string_split(text, ' '))
         |                + ${CurationCtx - 1})
         |                // $CurationCtx) AS BIGINT) AS chunks_padded
         |       FROM c5),
         |packrow AS (
         |  SELECT CAST(7 AS BIGINT) AS stage_ord, 'pack' AS stage,
         |         chunks_padded AS docs, total_toks AS toks,
         |         CAST(0 AS BIGINT) AS removed_docs,
         |         chunks_padded * $CurationCtx - total_toks
         |           AS removed_toks
         |  FROM pk WHERE n_docs > 0),
         |k0 AS (SELECT CAST(count(*) AS BIGINT) AS d,
         |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
         |                AS BIGINT) AS t FROM c0),
         |k1 AS (SELECT CAST(count(*) AS BIGINT) AS d,
         |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
         |                AS BIGINT) AS t FROM c1),
         |k2 AS (SELECT CAST(count(*) AS BIGINT) AS d,
         |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
         |                AS BIGINT) AS t FROM c2),
         |k3 AS (SELECT CAST(count(*) AS BIGINT) AS d,
         |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
         |                AS BIGINT) AS t FROM c3),
         |k4 AS (SELECT CAST(count(*) AS BIGINT) AS d,
         |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
         |                AS BIGINT) AS t FROM c4),
         |k5 AS (SELECT CAST(count(*) AS BIGINT) AS d,
         |              CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
         |                AS BIGINT) AS t FROM c5),
         |card AS (
         |  SELECT CAST(0 AS BIGINT) AS stage_ord, 'input' AS stage,
         |         d AS docs, t AS toks, CAST(0 AS BIGINT) AS removed_docs,
         |         CAST(0 AS BIGINT) AS removed_toks FROM k0
         |  UNION ALL SELECT CAST(1 AS BIGINT), 'gopher', k1.d, k1.t,
         |         k0.d - k1.d, k0.t - k1.t FROM k1, k0
         |  UNION ALL SELECT CAST(2 AS BIGINT), 'rep_surgery', k2.d, k2.t,
         |         k1.d - k2.d, k1.t - k2.t FROM k2, k1
         |  UNION ALL SELECT CAST(3 AS BIGINT), 'span_surgery', k3.d, k3.t,
         |         k2.d - k3.d, k2.t - k3.t FROM k3, k2
         |  UNION ALL SELECT CAST(4 AS BIGINT), 'semantic_decon', k4.d,
         |         k4.t, k3.d - k4.d, k3.t - k4.t FROM k4, k3
         |  UNION ALL SELECT CAST(5 AS BIGINT), 'bloom_decon', k5.d, k5.t,
         |         k4.d - k5.d, k4.t - k5.t FROM k5, k4)
         |SELECT * FROM (
         |  SELECT * FROM card
         |  UNION ALL SELECT * FROM mixrows
         |  UNION ALL SELECT * FROM packrow)
         |ORDER BY stage_ord, stage""".stripMargin)
    },

    // kNN density: same-bucket pair distances off a3, k nearest per
    // vector (dist, nid tie-break), count/mean/max with integer DIV;
    // isolated vectors come back via the left join with NULL dists.
    "ext120_knn_density" ->
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
  )
}
