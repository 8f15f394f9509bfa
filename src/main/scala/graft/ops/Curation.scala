package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The END-TO-END curation pipeline composed once as an operator (r9
 * verdict item 6): gopher rules → within-doc repetition surgery →
 * cross-doc span surgery → semantic + Bloom decontamination →
 * sqrt-temperature mixture → pack. Every stage is the EXISTING
 * operator ([[TextOps.gopherRules]], [[Dedup.repetitionSurgery]],
 * [[Dedup.dupSpanSurgery]], [[Similarity.semanticDecontaminate]],
 * [[Sketches.bloomPerDoc]], [[Sampling.tokenLedger]],
 * [[Packing.packEfficiency]]) — composing them adds no new shuffle
 * shape, which is the point: the pipeline IS the operators, chained on
 * the (doc_id, text, source) relation each stage emits.
 *
 * The benchmark convention is the ext97/ext102 one: documents (and the
 * shared-id-space embedding vectors) with id < `benchMaxId` are the
 * eval suite; the rest are the training corpus. Decontamination drops
 * whole docs (semantic: max bench cosine at the near-dup threshold;
 * Bloom: k-bit probe hit fraction ≥ 0.8 over the doc's distinct
 * CLEANED-text shingles); the surgeries cut tokens but keep rows — an
 * emptied doc stays visible (and counts 1 token under the
 * split-on-space convention both engines share).
 */
object Curation {

  /** Bloom doc-flag threshold (ext102's audit threshold). */
  val BloomFlagThreshold = 0.8d

  /**
   * The batch pipeline's full state on one corpus snapshot: the six
   * stage relations (each `(doc_id, text, source)`, materialized
   * once) and the four SNAPSHOT ARTIFACTS the streaming ingest sink
   * reads ([[graft.stream.StreamingPipeline.curationSink]]) —
   * span surgery's `(h, keeper_id)` relation, the benchmark embedding
   * vectors, the benchmark shingle set, and its Bloom bit set.
   */
  final case class Snapshot(
      c0: DataFrame, c1: DataFrame, c2: DataFrame, c3: DataFrame,
      c4: DataFrame, c5: DataFrame,
      keeperSpans: DataFrame, benchVecs: DataFrame,
      benchShingles: DataFrame, bloomBits: DataFrame)

  /**
   * Run the chain, returning every stage relation AND the snapshot
   * artifacts. With `indexKey` set, artifacts route through
   * [[Reuse.index]] (build-once per session per corpus, exactly like
   * the ANN family's probe/codebook artifacts) — repeated invocations
   * (the bench's two passes, a serving session's many cards) pay the
   * keeper/shingle/Bloom builds once; stage relations stay
   * [[Reuse.shared]] (per-query lifecycle) because they ARE the
   * query's dataflow, not an index.
   *
   * The keeper relation is built on c2 (the post-repetition corpus —
   * the same relation the batch surgery judges keepers on) via
   * [[Dedup.dupKeeperSpans]] + [[Dedup.dupSpanSurgeryAgainst]], which
   * compose to exactly [[Dedup.dupSpanSurgery]]'s cuts.
   */
  def snapshot(docs: DataFrame, embs: DataFrame, benchMaxId: Long,
      indexKey: Option[String] = None): Snapshot = {
    val spark = docs.sparkSession
    // benchMaxId is part of the artifact identity: the keeper relation,
    // bench vectors, shingle set and Bloom bits all depend on where the
    // eval/train split falls, so a session that re-runs the same corpus
    // dir with a different split must NOT be served the prior split's
    // artifacts (r11 advice).
    def art(name: String)(build: => DataFrame): DataFrame =
      indexKey match {
        case Some(k) =>
          Reuse.index(spark, s"curation:$k:$benchMaxId:$name")(build)
        case None => Reuse.shared(build)
      }
    val bench = docs.filter(col("doc_id") < benchMaxId)
    // Every stage output is MATERIALIZED once (Reuse.shared): the card
    // reads each relation from two-plus consumers (its own 1-row
    // counts, the next stage, mixture/pack), and without the cut every
    // downstream stage would replay the whole prefix chain — the
    // pipeline cost would be the SUM OF PREFIXES (~5× measured at the
    // 10× smoke) instead of the sum of stages it claims.
    val c0 = Reuse.shared(docs.filter(col("doc_id") >= benchMaxId)
      .select("doc_id", "text", "source"))
    def resurface(surg: DataFrame, prev: DataFrame): DataFrame =
      Reuse.shared(surg.join(prev.select("doc_id", "source"), "doc_id")
        .select(col("doc_id"), col("clean_text").as("text"),
          col("source")))
    val c1 = Reuse.shared(TextOps.gopherRules(c0)
      .filter(col("keep") === 1).select("doc_id", "text", "source"))
    val c2 = resurface(Dedup.repetitionSurgery(c1), c1)
    val keepers = art("keepers")(Dedup.dupKeeperSpans(c2))
    val c3 = resurface(Dedup.dupSpanSurgeryAgainst(c2, keepers), c2)
    val benchVecs = art("benchvecs")(
      embs.filter(col("vec_id") < benchMaxId))
    val semFlagged = Similarity.semanticDecontaminate(
        embs.join(c3.select(col("doc_id").as("vec_id")), "vec_id"),
        benchVecs)
      .filter(col("contaminated") === 1L)
      .select(col("vec_id").as("doc_id"))
    val c4 = Reuse.shared(c3.join(semFlagged, Seq("doc_id"), "left_anti"))
    val benchH = art("benchH")(Dedup.benchmarkShingles(bench))
    val bits = art("bloombits")(Sketches.bloomBits(benchH))
    val bloomFlagged = Sketches.bloomPerDoc(c4, benchH, bits)
      .filter(col("n_bloom").cast("double") /
        col("n_sh").cast("double") >= BloomFlagThreshold)
      .select("doc_id")
    val c5 = Reuse.shared(c4.join(bloomFlagged, Seq("doc_id"),
      "left_anti"))
    Snapshot(c0, c1, c2, c3, c4, c5, keepers, benchVecs, benchH, bits)
  }

  /**
   * One row per stage: (stage_ord, stage, docs, toks, removed_docs,
   * removed_toks) for input/gopher/rep_surgery/span_surgery/
   * semantic_decon/bloom_decon, then one `mix:<source>` row per
   * stratum (docs kept, planned token draw out of `tokenBudget`),
   * then the `pack` row (padded sequences at `ctx`, padding waste).
   *
   * Scale shape: six corpus passes (one per stage — each a keyed
   * aggregate or broadcast-artifact join), the stage counts are 1-row
   * aggregates crossJoined pairwise (the TextOps 1-row-frame
   * convention), mixture and pack are map-side-combined aggregates
   * over the final survivors. Nothing is all-pairs; the only
   * corpus-proportional artifact is span surgery's keeper relation
   * (ext96's documented cost).
   */
  def pipelineCard(docs: DataFrame, embs: DataFrame, benchMaxId: Long,
      tokenBudget: Long, ctx: Long = 512L,
      indexKey: Option[String] = None): DataFrame = {
    val snap = snapshot(docs, embs, benchMaxId, indexKey)
    val (c0, c1, c2, c3, c4, c5) =
      (snap.c0, snap.c1, snap.c2, snap.c3, snap.c4, snap.c5)
    // ---- the card ----
    // Every stage's (docs, toks) is computed ONCE in a single
    // labelled union aggregate (r18: the pairwise crossJoin card
    // aggregated each relation twice — cur in its own row, prev in
    // the next row's — 11 full passes over the stage relations for 6
    // values; at 100 TB each pass is a scan of a corpus-sized stage
    // relation, so halving the pass count is the dominant cost of
    // the card body). The removed_* deltas derive from the previous
    // stage's row via a 6-row lag window; a static stage frame
    // reinstates all-zero rows for emptied stages (an aggregate over
    // a labelled union yields no row for an empty stage, unlike the
    // old per-stage aggregate).
    val nTok = size(TextOps.tokens(col("text"))).cast("long")
    // c5 feeds THREE token-weighted reports (its own card row, the
    // mixture ledger, the pack row) — tokenize the survivors ONCE into
    // a compact (source, n_toks) projection all three read (r19: the
    // card paid three full text scans of the final corpus; at 100 TB
    // each is a corpus pass).
    val c5Toks = Reuse.shared(c5.select(col("source"), nTok.as("_nt")))
    val labelled = (Seq(c0, c1, c2, c3, c4).zipWithIndex
      .map { case (df, i) =>
        df.select(lit(i.toLong).as("stage_ord"), nTok.as("_nt")) } :+
      c5Toks.select(lit(5L).as("stage_ord"), col("_nt")))
      .reduce(_ unionByName _)
    val cnts = labelled.groupBy("stage_ord")
      .agg(count(lit(1)).as("d"), coalesce(sum("_nt"), lit(0L)).as("t"))
    val names = Seq("input", "gopher", "rep_surgery", "span_surgery",
      "semantic_decon", "bloom_decon")
    val stageFrame = docs.sparkSession.createDataFrame(
      names.zipWithIndex.map { case (n, i) => (i.toLong, n) })
      .toDF("stage_ord", "stage")
    val w = org.apache.spark.sql.expressions.Window.orderBy("stage_ord")
    val stages = stageFrame
      .join(cnts, Seq("stage_ord"), "left")
      .select(col("stage_ord"), col("stage"),
        coalesce(col("d"), lit(0L)).as("docs"),
        coalesce(col("t"), lit(0L)).as("toks"))
      .withColumn("removed_docs",
        coalesce(lag("docs", 1).over(w) - col("docs"), lit(0L)))
      .withColumn("removed_toks",
        coalesce(lag("toks", 1).over(w) - col("toks"), lit(0L)))
    stages.unionByName(mixPackRowsFromToks(c5Toks, tokenBudget, ctx))
  }

  /**
   * The card's mixture + pack rows (stage_ord 6/7) over a survivor
   * relation `(doc_id, text, source)`. Exposed separately because
   * these two stages are corpus-level REPORTS over whatever has
   * survived — in batch that is `snapshot(...).c5`; for the streaming
   * ingest sink it is the ACCUMULATED survivor store, read back by
   * [[graft.stream.StreamingPipeline.partials]] (both
   * aggregates are algebraic over the survivor relation, so the fold
   * equals the batch rows over everything that has arrived, at any
   * batching — the partials-family contract).
   */
  def mixPackRows(c5: DataFrame, tokenBudget: Long,
      ctx: Long = 512L): DataFrame =
    mixPackRowsFromToks(
      Reuse.shared(c5.select(col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("_nt"))),
      tokenBudget, ctx)

  /** [[mixPackRows]] over a pre-tokenized (source, _nt) projection —
    * both reports are token-count aggregates, so ONE tokenize pass of
    * the survivor text serves the mixture ledger AND the pack row
    * (and, via [[pipelineCard]], the c5 stage row too). */
  def mixPackRowsFromToks(c5Toks: DataFrame, tokenBudget: Long,
      ctx: Long = 512L): DataFrame = {
    val mix = Sampling.tokenLedger(c5Toks, tokenBudget,
        tokens = Some(col("_nt")))
      .select(lit(6L).as("stage_ord"),
        concat(lit("mix:"), col("source")).as("stage"),
        col("n_docs").as("docs"), col("planned_tokens").as("toks"),
        lit(0L).as("removed_docs"), lit(0L).as("removed_toks"))
    val pack = Packing.packEfficiency(c5Toks, col("_nt"), Seq(ctx))
      .select(lit(7L).as("stage_ord"), lit("pack").as("stage"),
        col("chunks_padded").as("docs"),
        col("total_toks").as("toks"), lit(0L).as("removed_docs"),
        (col("chunks_padded") * lit(ctx) - col("total_toks"))
          .as("removed_toks"))
    mix.unionByName(pack)
  }
}
