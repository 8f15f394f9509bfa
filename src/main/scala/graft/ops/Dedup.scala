package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for a training-data pipeline (SURVEY.md §7.1 M6):
 * exact, MinHash+LSH, SimHash, and n-gram Jaccard.
 *
 * Scale design: every variant avoids the O(n²) all-pairs join — candidates
 * come from equi-joins on buckets (band signature / simhash chunk / shared
 * shingle), so the shuffle is keyed and skew-guarded (stop-shingle cap).
 * Hashes are the portable md5-based scheme of [[Hashing]] so the DuckDB
 * oracle reproduces them bit-for-bit.
 */
object Dedup {

  /** Exact dedup: hash-groupBy on content. Returns one row per distinct
    * content with the keeper (min id) and duplicate count — the standard
    * 100 TB exact-dedup shape (shuffle keyed by content hash, not text). */
  def exact(doc: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    doc.groupBy(md5(col(text)).as("content_hash"))
      .agg(min(col(id)).as("keeper_id"), count("*").as("dup_count"))

  /**
   * Near-dup families whose members DISAGREE on a label (e.g. copies
   * of the same article tagged with different `lang` values) —
   * annotation contamination that dedup alone HIDES: keeper selection
   * collapses the family to one row carrying one of the conflicting
   * labels, silently voting. Surfacing the conflicts is the audit a
   * labeled-corpus pipeline runs before trusting per-label statistics
   * (mixing weights, per-lang thresholds) computed downstream of
   * dedup.
   *
   * Reads the build-once cluster map (the same stored artifact keeper
   * selection and the impact report read) — labels ride a doc_id
   * equi-join, then one keyed aggregate with a distinct-label count;
   * the filter keeps only conflicted families (output ≪ clusters).
   */
  def labelConflicts(clusterMap: DataFrame, doc: DataFrame,
      label: String = "lang", id: String = "doc_id"): DataFrame =
    clusterMap.join(doc.select(col(id), col(label)), id)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col(label)).as("n_labels"),
        min(col(id)).as("keeper_id"))
      .filter(col("n_labels") > 1)

  /**
   * Majority-label propagation over the stored dup-cluster map — the
   * FIX side of [[labelConflicts]] (which only DETECTS cross-label
   * near-dup families): every clustered document adopts its family's
   * majority label ((count DESC, label ASC) tie-break — the
   * knnLabelAudit vote convention), singletons keep their own
   * (cluster_id −1 sentinel, relabeled 0). This is how metadata
   * cleanup actually ships at corpus scale: labels/quality tags
   * propagate through near-dup families instead of leaving each copy's
   * annotation to disagree silently — the curation move that turns
   * ext74's audit rows into corrected rows.
   *
   * Scale shape: the cluster map is the build-once snapshot artifact
   * (shared with ext27/47/51/64/74); the majority is one map-side-
   * combined (cluster, label) count + a per-cluster rank over that
   * compact relation (≤ families × labels rows); the corpus is touched
   * once by each id-keyed join, nothing broadcast-hinted (the map side
   * scales with corpus redundancy — the dedupWeights boundary).
   */
  def labelPropagation(clusterMap: DataFrame, doc: DataFrame,
      label: String = "lang", id: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lab = doc.select(col(id), col(label).as("label"))
    val counts = clusterMap.join(lab, id)
      .groupBy("cluster_id", "label").agg(count(lit(1)).as("n"))
    val maj = counts
      .withColumn("rk", row_number().over(Window
        .partitionBy("cluster_id")
        .orderBy(col("n").desc, col("label").asc)))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("label").as("majority_label"))
    lab.join(clusterMap, Seq(id), "left")
      .join(maj, Seq("cluster_id"), "left")
      .select(col(id), col("label"),
        coalesce(col("cluster_id"), lit(-1L)).as("cluster_id"),
        coalesce(col("majority_label"), col("label"))
          .as("majority_label"))
      .withColumn("relabeled",
        (col("label") =!= col("majority_label")).cast("long"))
  }

  /** Per-document shingle cap: only the first MaxShinglesPerDoc shingles
    * participate in dedup — bounds the per-doc explode (a pathological
    * 10M-token doc would otherwise dominate its partition) and matches the
    * oracle's `range(1, 4001)` bound so both engines see identical sets. */
  val MaxShinglesPerDoc = 4000

  /**
   * Per-shingle doc-id lists (ascending) after the stop-shingle cap, as
   * ONE keyed shuffle: explode per-doc shingle positions, hash each
   * shingle in codegen, group by hash collecting ids through a BOUNDED
   * distinct-insert [[graft.agg.TopKIds]] buffer of `maxDocFreq + 1`
   * slots. A shingle hitting the bound has `df > maxDocFreq` and is
   * dropped — byte-identical semantics to the classic distinct →
   * df-count → anti-join pipeline, but the hot-shingle guard costs no
   * extra aggregate or join, and aggregator state stays ≤ maxDocFreq+1
   * ids even for a shingle present in a billion docs (the skew case the
   * cap exists for). Per-doc repeats of a shingle collapse inside the
   * aggregator's distinct insert (duplicate (weight, id) is a no-op), so
   * the grouped lists are distinct docs. Weight is `-id` as double —
   * exact while ids < 2^53.
   *
   * Returned relation: `(h, ids array<long> ascending)`, eagerly
   * materialized (see [[Reuse]]) — every consumer (pair generation, set
   * sizes, MinHash mins) is a cheap scan of |distinct shingles| rows.
   */
  /** One row per (doc, capped shingle position): explode the position
    * range FIRST, then build + hash the shingle as a flat per-row
    * projection — `slice`/`concat_ws`/[[Hashing.portableHash32]] are all
    * codegen'd, so the whole scan→explode→hash chain stays inside one
    * WholeStageCodegen span. The earlier per-doc
    * `array_distinct(transform(..., portableHash32))` form computed the
    * same hashes through interpreted higher-order-function lambdas
    * (`transform` is CodegenFallback) — measured 0.5 s ↔ 14.7 s on the
    * SAME sf0.1 input depending on JIT state, the round-3 ext02 bench
    * spike. Rows here may REPEAT an (id, h) pair (a shingle occurring
    * twice in one doc); consumers that need per-doc distinctness get it
    * from the bounded distinct aggregator ([[shingleGroups]]) or
    * `countDistinct` ([[benchmarkOverlap]]) — never from a per-doc array
    * lambda. Shared by the grouped dedup pipeline and
    * [[benchmarkOverlap]] (cap and hashing must never diverge between
    * them: both are oracle-parity-sensitive). */
  private def docShingleHashes(doc: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    doc.select(col(id), TextOps.tokens(col(text)).as("_toks"))
      .select(col(id), col("_toks"),
        explode(when(size(col("_toks")) >= n,
          sequence(lit(1),
            least(size(col("_toks")) - lit(n - 1), lit(MaxShinglesPerDoc))))
          .otherwise(array().cast("array<int>"))).as("_i"))
      .select(col(id),
        Hashing.portableHash32(
          concat_ws(" ", slice(col("_toks"), col("_i"), lit(n)))).as("h"))

  def shingleGroups(doc: DataFrame, id: String, text: String,
      n: Int = 3, maxDocFreq: Int = 50,
      materialize: Boolean = true): DataFrame = {
    // Distinct insert: docShingleHashes repeats (doc, h) when a shingle
    // occurs twice in a doc; the cap must count distinct docs.
    val bounded = graft.agg.TopK.topKDistinctIds(maxDocFreq + 1)
    val g = docShingleHashes(doc, id, text, n)
      .withColumnRenamed(id, "_sid")
      .groupBy("h")
      .agg(bounded(negate(col("_sid").cast("double")), col("_sid"))
        .as("ids"))
      .filter(size(col("ids")) <= maxDocFreq)
    // `materialize = false` for single-consumer pipelines (the MinHash
    // signature pass): a checkpoint there pays a blocking job + block
    // write for zero reuse.
    if (materialize) Reuse.shared(g) else g
  }

  /** Distinct (doc, shingle-hash) pairs with the stop-shingle frequency
    * cap — the exploded view of [[shingleGroups]]. */
  def shingleHashes(doc: DataFrame, id: String, text: String,
      n: Int = 3, maxDocFreq: Int = 50,
      materialize: Boolean = true): DataFrame =
    shingleGroups(doc, id, text, n, maxDocFreq, materialize)
      .select(explode(col("ids")).as(id), col("h"))

  /** All (id_a < id_b) pairs from an ASCENDING-sorted id list, as a
    * nested-transform array expression — the bucketed candidate
    * generator shared by the Jaccard and LSH paths (explode in-list
    * combinations; never a self-join). */
  private def pairCombos(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        b => struct(a.as("id_a"), b.as("id_b")))))

  /**
   * N-gram Jaccard near-dup: candidate pairs share ≥1 (capped) shingle;
   * jaccard = |∩| / (|A| + |B| - |∩|). Exact over the capped shingle
   * sets; the division is a single IEEE op so engines agree.
   *
   * Pair generation explodes the in-list combinations of each shingle's
   * (ascending, ≤ maxDocFreq) doc list — fan-out bounded at
   * maxDocFreq²/2 per shingle — instead of self-joining the exploded
   * relation on `h`, which saves two shuffles and the join while
   * producing the identical multiset of (id_a < id_b) candidates.
   */
  def ngramJaccard(doc: DataFrame, id: String = "doc_id",
      text: String = "text", threshold: Double = 0.1): DataFrame =
    ngramJaccardFromGroups(shingleGroups(doc, id, text), id, threshold)

  /** [[ngramJaccard]] over a pre-built (materialized) [[shingleGroups]]
    * relation — the composition entry point when several detectors share
    * one shingle pass (e.g. the ext54 recall audit). */
  def ngramJaccardFromGroups(g: DataFrame, id: String = "doc_id",
      threshold: Double = 0.1): DataFrame = {
    val inter = g.select(explode(pairCombos(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      // pairCombos pairs strictly-later list positions, so id_a < id_b
      // for unique doc ids; the guard keeps dirty input (a duplicated
      // doc_id row slipping two equal ids into one list) from surfacing
      // as a doc being a near-duplicate of itself.
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    val sizes = g.select(explode(col("ids")).as(id))
      .groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.select(col(id).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col(id).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard"))
  }

  /**
   * Asymmetric CONTAINMENT near-dup pairs — the doc-inside-doc case
   * symmetric Jaccard structurally misses: a 10-shingle document fully
   * quoted inside a 300-shingle one has containment 1.0 but Jaccard
   * ~0.03, far under any near-dup threshold (quote extraction,
   * boilerplate inclusion, article-in-digest). containment =
   * |∩| / min(|A|, |B|) over the same capped distinct shingle sets as
   * [[ngramJaccard]]; ppm-quantized integer division end to end (no
   * doubles anywhere — stricter than the Jaccard op's single IEEE
   * division). The report carries `jaccard_ppm` beside it, so each
   * emitted pair shows exactly what the symmetric detector would have
   * said — the asymmetric catch is visible per row.
   *
   * Scale shape: identical to [[ngramJaccardFromGroups]] — bucketed
   * in-list pair combos under the stop-shingle cap, never a self-join.
   */
  def containmentPairs(doc: DataFrame, id: String = "doc_id",
      text: String = "text", threshold: Double = 0.8): DataFrame =
    containmentPairsFromGroups(shingleGroups(doc, id, text), id, threshold)

  /** [[containmentPairs]] over a pre-built [[shingleGroups]] relation
    * (shares one shingle pass with the other detectors). */
  def containmentPairsFromGroups(g: DataFrame, id: String = "doc_id",
      threshold: Double = 0.8): DataFrame = {
    val thresholdPpm = math.floor(threshold * 1e6).toLong
    val inter = g.select(explode(pairCombos(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    val sizes = g.select(explode(col("ids")).as(id))
      .groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.select(col(id).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col(id).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("containment_ppm",
        expr("(n_inter * 1000000) DIV least(n_a, n_b)"))
      .withColumn("jaccard_ppm",
        expr("(n_inter * 1000000) DIV (n_a + n_b - n_inter)"))
      .filter(col("containment_ppm") >= thresholdPpm)
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("containment_ppm"), col("jaccard_ppm"))
  }

  /**
   * Benchmark decontamination: score every corpus doc by its n-gram
   * overlap with a (small) benchmark/eval set — the standard "did the
   * test set leak into the training corpus" check of a pretraining
   * pipeline. Overlap is on per-doc DISTINCT capped shingle hashes (no
   * stop-shingle df cap here: a benchmark n-gram is evidence however
   * common it is); `overlap_frac` = |doc ∩ benchmark| / |doc|, and a doc
   * at/above `threshold` is flagged contaminated.
   *
   * Scale shape: the benchmark shingle set is the distinct union over the
   * (by definition small) eval suite — broadcast to every executor, so
   * the corpus scan never shuffles for the membership probe; the only
   * keyed shuffles are the two per-doc counts. Every doc of `corpus`
   * appears in the output (zero-overlap docs carry 0/0.0).
   */
  def benchmarkOverlap(corpus: DataFrame, bench: DataFrame,
      id: String = "doc_id", text: String = "text", n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    benchmarkOverlapAgainst(corpus,
      benchmarkShingles(bench, id, text, n), id, text, n, threshold)

  /** The benchmark/eval suite's distinct shingle-hash membership set —
    * the small broadcast side of every decontamination probe. Computed
    * ONCE per eval-suite snapshot (offline in the streaming twin,
    * [[benchmarkOverlapAgainst]] under
    * [[graft.stream.StreamingPipeline.partialsSink]]) under the
    * same cap and hashing as [[docShingleHashes]]. */
  def benchmarkShingles(bench: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3): DataFrame =
    docShingleHashes(bench, id, text, n).select("h").distinct()

  /** Distinct (id, h) shingle relation per document — the probe side of
    * membership-style audits ([[benchmarkOverlapAgainst]] computes the
    * same relation inline via countDistinct; the Bloom audit
    * ([[Sketches.bloomContaminationAudit]]) needs it as a frame). Same
    * cap and hashing as [[docShingleHashes]]. */
  def distinctDocShingles(doc: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3): DataFrame =
    docShingleHashes(doc, id, text, n).distinct()

  /**
   * EXACT Jaccard τ-similarity join via prefix filtering (Chaudhuri et
   * al. ICDE 2006; Bayardo et al. "Scaling up all pairs similarity
   * search", WWW 2007) — the LOSSLESS counterpart of this family's
   * candidate generators: [[minhashLsh]] misses pairs with small
   * probability and [[ngramJaccard]]'s stop-shingle cap drops pairs
   * that share only hot shingles, but the prefix filter provably loses
   * NOTHING at the target threshold. Order every doc's shingle set by
   * global rarity (df asc, h asc — any total order works; rarest-first
   * minimizes candidates) and keep each doc's first
   * p = |d| − ⌈τ·|d|⌉ + 1 shingles as its PREFIX: two sets with
   * Jaccard ≥ τ overlap in ≥ ⌈τ·|d|⌉ elements, so by pigeonhole their
   * prefixes must share at least one shingle — candidates = prefix
   * equi-join, completeness guaranteed (spec-checked against the naive
   * all-pairs join). τ = tauNum/tauDen kept rational so prefix lengths,
   * the PPJoin size filter (τ·|larger| ≤ |smaller|) and the final
   * τ-test are all integer-exact.
   *
   * Scale shape: the equi-join runs on the PREFIX relation — ~(1−τ) of
   * the corpus's shingle mass, concentrated on rare shingles (median
   * df = 1), so per-key fan-out stays tiny where [[ngramJaccard]]'s
   * uncapped variant would quadratically explode on hot keys; the
   * exact intersection count then touches only surviving candidate
   * pairs. No cap, no sketch: every emitted pair carries its TRUE
   * Jaccard over full shingle sets (ppm, integer DIV).
   */
  def jaccardPrefixJoin(doc: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3, tauNum: Long = 4L,
      tauDen: Long = 5L): DataFrame = {
    val toks = Reuse.shared(distinctDocShingles(doc, id, text, n))
    val dfreq = toks.groupBy("h").agg(count(lit(1)).as("df"))
    val sized = toks.join(dfreq, "h")
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(id)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(id).orderBy(col("df"), col("h"))))
    val prefix = sized.filter(col("pos") <=
      col("n_sh") - expr(s"($tauNum * n_sh + ${tauDen - 1}) DIV $tauDen")
        + 1L)
      .select(col(id), col("h"), col("n_sh"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") &&
          col(s"a.$id") < col(s"b.$id") &&
          lit(tauDen) * least(col("a.n_sh"), col("b.n_sh")) >=
            lit(tauNum) * greatest(col("a.n_sh"), col("b.n_sh")))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .distinct()
    cand
      .join(toks.select(col(id).as("id_a"), col("h")), "id_a")
      .join(toks.select(col(id).as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_inter"))
      .filter(lit(tauDen) * col("n_inter") >=
        lit(tauNum) * (col("n_a") + col("n_b") - col("n_inter")))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        expr("(1000000 * n_inter) DIV (n_a + n_b - n_inter)")
          .as("jaccard_ppm"))
  }

  /** [[benchmarkOverlap]] against a precomputed [[benchmarkShingles]]
    * set — the reusable probe: the corpus scan never shuffles for the
    * membership check (broadcast), only the two per-doc counts do. The
    * streaming twin (ext32) runs it per micro-batch: the eval suite is
    * static and small, and a doc arrives whole in one row, so per-doc
    * counts need no cross-batch state. */
  def benchmarkOverlapAgainst(corpus: DataFrame, benchH: DataFrame,
      id: String = "doc_id", text: String = "text", n: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val ch = docShingleHashes(corpus, id, text, n)
    // ONE pass: the broadcast membership probe tags each (id, h) row,
    // and a single per-doc aggregate counts DISTINCT shingles total and
    // DISTINCT shared shingles (the conditional countDistinct ignores
    // nulls, and benchH is distinct so each shared shingle counts once).
    // The previous two-aggregate shape re-planned the whole shingle
    // subtree under each consumer — the r6 plan-budget audit's finding.
    val flagged = ch.join(
      broadcast(benchH.withColumn("_in", lit(1L))), Seq("h"), "left")
    val counts = flagged.groupBy(col(id))
      .agg(countDistinct(col("h")).as("n_sh"),
        countDistinct(when(col("_in").isNotNull, col("h"))).as("n_shared"))
    corpus.select(col(id))
      .join(counts, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("overlap_frac",
        when(col("n_sh") === 0L, lit(0.0d))
          .otherwise(col("n_shared").cast("double") /
            col("n_sh").cast("double")))
      .withColumn("contaminated",
        (col("overlap_frac") >= threshold).cast("long"))
  }

  /**
   * Span-level decontamination — the masking/redaction input:
   * [[benchmarkOverlap]] says WHICH docs leak benchmark n-grams, this
   * says WHERE — every (doc, shingle position) whose n-gram is in the
   * benchmark set, so a pipeline can mask/excise the leaked spans
   * instead of dropping whole documents. Positions are 1-based shingle
   * starts under the same cap and hashing as [[docShingleHashes]]
   * (parity-sensitive: the two probes must never diverge). Scale shape:
   * broadcast benchmark membership probe on the corpus scan (no
   * shuffle), then one keyed collect per doc; `leak_positions` is
   * bounded by the shingle cap.
   */
  def benchmarkLeakSpans(corpus: DataFrame, bench: DataFrame,
      id: String = "doc_id", text: String = "text",
      n: Int = 3): DataFrame = {
    val benchH = docShingleHashes(bench, id, text, n).select("h").distinct()
    val posSh = corpus.select(col(id), TextOps.tokens(col(text)).as("_toks"))
      .select(col(id), col("_toks"),
        explode(when(size(col("_toks")) >= n,
          sequence(lit(1),
            least(size(col("_toks")) - lit(n - 1), lit(MaxShinglesPerDoc))))
          .otherwise(array().cast("array<int>"))).as("_i"))
      .select(col(id), col("_i").cast("long").as("pos"),
        Hashing.portableHash32(
          concat_ws(" ", slice(col("_toks"), col("_i"), lit(n)))).as("h"))
    val leaks = posSh.join(broadcast(benchH), "h")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_leaked"),
        sort_array(collect_list(col("pos"))).as("leak_positions"))
    corpus.select(col(id))
      .join(leaks, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        coalesce(col("leak_positions"),
          array().cast("array<bigint>")).as("leak_positions"))
  }

  /**
   * Detector-quality audit: recall of an approximate candidate-pair
   * generator (LSH bands, simhash chunks, hyperplane buckets) against an
   * exact truth pair set — the number that justifies the approximate
   * path's knobs before a 100 TB run commits to them. Both inputs carry
   * (id_a < id_b); output is ONE row: n_true, n_detected, and
   * recall_q = floor(1e6 · detected/true) (quantized so the oracle
   * compares an exact int64, not a float). Scale shape: one left join on
   * the pair key + a global aggregate of three scalars. The candidate
   * side is deduplicated here (r5 ADVICE): a generator emitting the
   * same (id_a, id_b) twice would otherwise fan out its truth row and
   * push recall_q past 1e6 — the distinct is one extra exchange over
   * the (small) candidate pair set, not the corpus.
   */
  def pairRecall(truth: DataFrame, candidates: DataFrame): DataFrame =
    truth.select("id_a", "id_b")
      .join(candidates.select("id_a", "id_b").distinct()
          .withColumn("hit", lit(1L)),
        Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("hit")), lit(0L)).as("n_detected"),
        coalesce(floor(lit(1000000.0d) *
            (sum(col("hit")).cast("double") /
              count(lit(1)).cast("double"))).cast("long"),
          lit(0L)).as("recall_q"))

  /**
   * Per-document novelty: the fraction of a doc's distinct shingles
   * that appear in NO other document (ppm) — the curation priority
   * signal (high-novelty docs contribute content the corpus lacks;
   * near-zero novelty marks templated/syndicated text even when no
   * single pair crosses a dedup threshold — the complement of the
   * near-dup detectors, scored per doc instead of per pair).
   *
   * Scale shape: distinct (doc, h) under the per-doc shingle cap; exact
   * document frequency per shingle is ONE long of aggregate state per
   * key (no bounded collector — only the df==1 test is consumed, never
   * a membership list); one h-keyed join back + one doc-keyed
   * aggregate. Docs below the shingle width stay in the output with 0s.
   */
  def noveltyScores(doc: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3): DataFrame = {
    val s = Reuse.shared(docShingleHashes(doc, id, text, n).distinct())
    noveltyFrom(doc, s, s.groupBy("h").agg(count(lit(1)).as("df")), id)
  }

  /** The OFFLINE artifact of the novelty score: exact corpus-wide
    * document frequency per distinct shingle hash — one long of state
    * per key, stored once per corpus snapshot and read by
    * [[noveltyScoresAgainst]] (the streaming twin's static side). */
  def noveltyShingleDf(doc: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3): DataFrame =
    docShingleHashes(doc, id, text, n).distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))

  /** [[noveltyScores]] of `doc` against a PRECOMPUTED df relation
    * ([[noveltyShingleDf]] of the snapshot the docs belong to). The
    * shingle pass is per-doc (position-capped, corpus-independent), so
    * scoring any subset of the snapshot against the stored table equals
    * the batch operator's rows for that subset — the property the
    * streaming twin (ext69) rides. Unlike ext67's per-stratum
    * thresholds the df side scales with the corpus, so it stays an
    * h-keyed join (a stored parquet table at production scale), never a
    * broadcast. */
  def noveltyScoresAgainst(doc: DataFrame, shingleDf: DataFrame,
      id: String = "doc_id", text: String = "text",
      n: Int = 3): DataFrame =
    noveltyFrom(doc,
      docShingleHashes(doc, id, text, n).distinct(), shingleDf, id)

  private def noveltyFrom(doc: DataFrame, s: DataFrame,
      shingleDf: DataFrame, id: String): DataFrame = {
    val per = s.join(shingleDf, "h").groupBy(col(id))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    doc.select(col(id))
      .join(per, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("(n_unique * 1000000) DIV n_shingles"))
          .as("novelty_q"))
  }

  /**
   * Duplicated-span mass — the span-level dedup decision signal (after
   * the exact-substring measure of Lee et al., "Deduplicating Training
   * Data Makes Language Models Better"): per document, how many of its
   * token positions sit inside an n-gram that also occurs in at least
   * one OTHER document. Doc-level detectors (exact/MinHash/SimHash)
   * answer "is this document a duplicate"; this answers "how much of
   * every document is duplicated text" — the number that decides
   * whether span-level surgery (cutting repeated spans, ext46-style)
   * is worth running instead of whole-document dedup. It is also
   * [[noveltyScores]]'s positional counterweight: novelty scores
   * DISTINCT shingles and deliberately drops hot shingles (df cap);
   * here hot shingles ARE the duplicated mass and every occurrence
   * counts, position-weighted.
   *
   * Scale shape: positional shingles (one explode, position-capped at
   * [[MaxShinglesPerDoc]] like every shingle consumer); "shared with
   * another doc" per shingle hash is `min(doc) != max(doc)` — two
   * longs of map-side-combinable aggregate state per key, NO
   * distinct-count state and no df cap needed because df never
   * materializes; then one h-keyed join back (1:1 fan-out — `shared`
   * is distinct) and a doc-keyed coverage count bounded by doc length.
   * Intra-doc-only repeats do not count as duplicated (min == max):
   * the measure is strictly cross-document.
   *
   * Output per doc: `n_spans` (shingle positions scanned),
   * `n_dup_spans` (positions whose n-gram occurs in another doc),
   * `n_covered_toks` (distinct token positions under any dup span),
   * `dup_mass_ppm` (= covered / scanned-token positions).
   */
  def dupSpanMass(doc: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3): DataFrame = {
    val pos = Reuse.shared(positionalShingles(doc, id, text, n))
    dupSpanMassFrom(doc, pos, sharedSpanHashes(pos, id), id, text, n)
  }

  /** One row per (doc, capped shingle POSITION) — [[docShingleHashes]]
    * keeping the position column, for span-coverage consumers. */
  private def positionalShingles(doc: DataFrame, id: String,
      text: String, n: Int): DataFrame =
    doc.select(col(id), graft.ops.TextOps.tokens(col(text)).as("_toks"))
      .select(col(id), col("_toks"),
        explode(when(size(col("_toks")) >= n,
          sequence(lit(1),
            least(size(col("_toks")) - lit(n - 1), lit(MaxShinglesPerDoc))))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col(id), col("i"),
        Hashing.portableHash32(
          concat_ws(" ", slice(col("_toks"), col("i"), lit(n)))).as("h"))

  /** The OFFLINE artifact of the span-mass score: the distinct shingle
    * hashes occurring in MORE than one document — one `(h)` row per
    * shared shingle, stored per corpus snapshot and read by
    * [[dupSpanMassAgainst]] (the streaming twin's static side, like
    * [[noveltyShingleDf]]). */
  def dupSharedHashes(doc: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3): DataFrame =
    sharedSpanHashes(positionalShingles(doc, id, text, n), id)

  private def sharedSpanHashes(pos: DataFrame, id: String): DataFrame =
    pos.groupBy("h")
      .agg(min(col(id)).as("_mn"), max(col(id)).as("_mx"))
      .filter(col("_mn") =!= col("_mx")).select("h")

  /** [[dupSpanMass]] of `doc` against a PRECOMPUTED shared-hash set
    * ([[dupSharedHashes]] of the snapshot the docs belong to). The
    * positional shingle pass is per-doc, so scoring any subset of the
    * snapshot against the stored set equals the batch operator's rows
    * for that subset — the stream-static property (ext69's pattern).
    * Sharing judged inside a stream would drift with arrival order, and
    * the shared set is corpus-proportional: a keyed join, never a
    * broadcast. */
  def dupSpanMassAgainst(doc: DataFrame, shared: DataFrame,
      id: String = "doc_id", text: String = "text",
      n: Int = 3): DataFrame =
    dupSpanMassFrom(doc, positionalShingles(doc, id, text, n),
      shared, id, text, n)

  private def dupSpanMassFrom(doc: DataFrame, pos: DataFrame,
      shared: DataFrame, id: String, text: String, n: Int): DataFrame = {
    val dup = pos.join(shared, "h")
    val perDoc = pos.groupBy(col(id)).agg(count(lit(1)).as("n_spans"))
    val dupAgg = dup.groupBy(col(id)).agg(count(lit(1)).as("n_dup_spans"))
    val covered = dup
      .select(col(id),
        explode(sequence(col("i"), col("i") + lit(n - 1))).as("p"))
      .groupBy(col(id)).agg(countDistinct(col("p")).as("n_covered_toks"))
    doc.select(col(id),
        least(size(graft.ops.TextOps.tokens(col(text))),
          lit(MaxShinglesPerDoc + n - 1)).cast("long").as("_scanned"))
      .join(perDoc, Seq(id), "left")
      .join(dupAgg, Seq(id), "left")
      .join(covered, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_covered_toks"), lit(0L)).as("n_covered_toks"),
        when(col("_scanned") === 0 || col("n_covered_toks").isNull, lit(0L))
          .otherwise(expr("(n_covered_toks * 1000000) DIV _scanned"))
          .as("dup_mass_ppm"))
  }

  /**
   * MAXIMAL duplicated spans — the artifact a curator actually
   * inspects (r9 verdict item 4): ext91 prices duplicated MASS and
   * ext96/123 cut positions, but the (start, length) intervals
   * themselves are what span-length distributions (à la RefinedWeb's
   * duplicate-span analysis) are computed from. One row per maximal
   * run of token positions covered by a cross-document n-gram:
   * gaps-and-islands over the covered-position relation — island key
   * `p − row_number(p)` is constant exactly while positions are
   * consecutive, so one doc-keyed window + one keyed aggregate turn
   * coverage into intervals. span_start is 1-based (positional
   * shingle convention); adjacent-but-distinct shared n-grams merge
   * into ONE span (maximality), matching how ext96 would cut them.
   *
   * Scale shape: per-doc everywhere after the shared-hash test — the
   * window partitions by doc (bounded by doc length, the
   * repetitionSurgery discipline), never a corpus-wide sort; the
   * shared-hash artifact is ext91's min≠max two-long aggregate.
   */
  def dupSpans(doc: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3): DataFrame = {
    val pos = Reuse.shared(positionalShingles(doc, id, text, n))
    dupSpansFrom(pos, sharedSpanHashes(pos, id), id, n)
  }

  /** [[dupSpans]] of `doc` against a precomputed [[dupSharedHashes]]
    * artifact — per-doc after the membership join, so any subset of
    * the snapshot yields the batch operator's rows for that subset
    * (the dupSpanMassAgainst stream-static property). */
  def dupSpansAgainst(doc: DataFrame, shared: DataFrame,
      id: String = "doc_id", text: String = "text",
      n: Int = 3): DataFrame =
    dupSpansFrom(positionalShingles(doc, id, text, n), shared, id, n)

  private def dupSpansFrom(pos: DataFrame, shared: DataFrame,
      id: String, n: Int): DataFrame = {
    val covered = pos.join(shared, "h")
      .select(col(id),
        explode(sequence(col("i"), col("i") + lit(n - 1))).as("p"))
      .distinct()
    val w = Window.partitionBy(col(id)).orderBy(col("p"))
    covered.withColumn("_isl", col("p") - row_number().over(w))
      .groupBy(col(id), col("_isl"))
      .agg(min(col("p")).cast("long").as("span_start"),
        count(lit(1)).as("span_len"))
      .select(col(id), col("span_start"), col("span_len"))
  }

  /** The span-length distribution card over [[dupSpans]] — one row
    * per maximal-span length: how many spans, how many docs carry
    * one, and the total duplicated token mass at that length. */
  def dupSpanHistogram(doc: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3): DataFrame =
    dupSpanHistogramFrom(dupSpans(doc, id, text, n), id)

  /** The histogram fold alone, over an already-built span listing —
    * so a STORED ext125 artifact feeds the card without recomputing
    * the coverage pass (the listing is the inspectable artifact; the
    * distribution is a derived view of it). */
  def dupSpanHistogramFrom(spans: DataFrame,
      id: String = "doc_id"): DataFrame =
    spans.groupBy(col("span_len"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col(id)).as("n_docs"),
        sum(col("span_len")).as("total_toks"))

  /**
   * Span-level dedup SURGERY — the transformation ext91's signal
   * prices: cut from every document the token positions covered by an
   * n-gram that also occurs in a LOWER-id document, and reassemble the
   * survivors in order. Exactly one copy of every shared n-gram
   * survives corpus-wide, held by its lowest doc_id (the ext14/ext47
   * min-id keeper convention), so text mass flows deterministically to
   * first occurrences — the Lee-et-al.-style alternative to dropping
   * whole near-dup documents when variants carry unique content
   * around a shared core. A document never cuts spans it is the
   * keeper of; a full duplicate of an earlier doc empties to ''.
   *
   * Scale shape: the positional shingle pass + a per-hash (min, max)
   * aggregate (two longs of state — the keeper IS the min, so the
   * artifact costs nothing beyond ext91's sharing test); one h-keyed
   * join, one (doc, pos) anti-style membership join, ONE doc-keyed
   * aggregate that counts AND reassembles (`collect_list` drops the
   * cut tokens' nulls — the ext59 boilerplate single-pass shape; the
   * per-doc array is bounded by doc length, post-aggregate HOF, not a
   * scan hot path). Positions past [[MaxShinglesPerDoc]] are never
   * cut — the cap discipline every shingle consumer shares.
   */
  def dupSpanSurgery(doc: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3): DataFrame = {
    val pos = Reuse.shared(positionalShingles(doc, id, text, n))
    dupSpanSurgeryFrom(doc, pos, keeperSpansFrom(pos, id), id, text, n)
  }

  /** The OFFLINE artifact of span surgery: `(h, keeper_id)` for every
    * cross-document shingle hash — [[dupSharedHashes]] plus the min-id
    * keeper, stored per corpus snapshot and read by
    * [[dupSpanSurgeryAgainst]] (the streaming twin's static side). */
  def dupKeeperSpans(doc: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3): DataFrame =
    keeperSpansFrom(positionalShingles(doc, id, text, n), id)

  private def keeperSpansFrom(pos: DataFrame, id: String): DataFrame =
    pos.groupBy("h")
      .agg(min(col(id)).as("keeper_id"), max(col(id)).as("_mx"))
      .filter(col("keeper_id") =!= col("_mx"))
      .select("h", "keeper_id")

  /** [[dupSpanSurgery]] against a PRECOMPUTED keeper relation
    * ([[dupKeeperSpans]] of the snapshot the docs belong to) — the
    * per-doc scan is corpus-independent, so operating on any subset of
    * the snapshot equals the batch operator's rows for that subset (the
    * ext96 streaming twin; a keeper judged inside a stream would depend
    * on arrival order). */
  def dupSpanSurgeryAgainst(doc: DataFrame, keeperSpans: DataFrame,
      id: String = "doc_id", text: String = "text",
      n: Int = 3): DataFrame =
    dupSpanSurgeryFrom(doc, positionalShingles(doc, id, text, n),
      keeperSpans, id, text, n)

  private def dupSpanSurgeryFrom(doc: DataFrame, pos: DataFrame,
      keeperSpans: DataFrame, id: String, text: String,
      n: Int): DataFrame = {
    val toCut = pos.join(keeperSpans, "h")
      .filter(col(id) =!= col("keeper_id"))
      .select(col(id),
        explode(sequence(col("i"), col("i") + lit(n - 1))).as("p"))
      .distinct()
      .withColumn("_cut", lit(1L))
    surgeryTail(doc, toCut, id, text)
  }

  /** Shared reassembly tail of every span surgery: tokens minus the
    * (id, p, _cut=1) cut set, counted and rejoined in order in ONE
    * doc-keyed aggregate (the ext59 single-pass shape). */
  private def surgeryTail(doc: DataFrame, toCut: DataFrame, id: String,
      text: String): DataFrame =
    doc.select(col(id),
        posexplode(graft.ops.TextOps.tokens(col(text)))
          .as(Seq("_p0", "tok")))
      .select(col(id), (col("_p0") + 1).as("p"), col("tok"))
      .join(toCut, Seq(id, "p"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("_cut").isNotNull, 1L).otherwise(0L))
          .as("n_toks_cut"),
        array_join(transform(
          array_sort(collect_list(when(col("_cut").isNull,
            struct(col("p"), col("tok"))))),
          s => s.getField("tok")), " ").as("clean_text"))

  /**
   * WITHIN-document repetition surgery — intra-document dedup, the
   * APPLY side of [[graft.ops.TextOps.gopherRepetitionCard]]'s
   * dup-n-gram measure (the RefinedWeb line-dedup convention at
   * n-gram granularity): cut from each document the token positions
   * covered by an n-gram occurrence whose hash FIRST occurs earlier
   * in the SAME document, keep the first occurrence, reassemble in
   * order. A repetition-free document comes back byte-identical; a
   * k-times-repeated phrase collapses to one copy. Cross-document
   * duplication is untouched — that is [[dupSpanSurgery]]'s job, and
   * the two compose (within-doc first shrinks the cross-doc shingle
   * volume), mirroring the ext106/ext91 measure pair.
   *
   * Scale shape: doc-local EVERYWHERE — the first-occurrence
   * aggregate keys on (doc, h), the cut set and reassembly on
   * (doc, p); no cross-document state at all, so the operator is
   * embarrassingly data-parallel and its streaming form is just the
   * batch operator per micro-batch (stateless by construction,
   * unlike ext96's corpus-snapshot keeper artifact). Positions past
   * [[MaxShinglesPerDoc]] are never cut — the shared cap discipline.
   */
  def repetitionSurgery(doc: DataFrame, id: String = "doc_id",
      text: String = "text", n: Int = 3): DataFrame = {
    val pos = Reuse.shared(positionalShingles(doc, id, text, n))
    val firsts = pos.groupBy(col(id), col("h")).agg(min(col("i")).as("i0"))
    val toCut = pos.join(firsts, Seq(id, "h"))
      .filter(col("i") > col("i0"))
      .select(col(id),
        explode(sequence(col("i"), col("i") + lit(n - 1))).as("p"))
      .distinct()
      .withColumn("_cut", lit(1L))
    surgeryTail(doc, toCut, id, text)
  }

  /**
   * Decontamination SURGERY — [[dupSpanSurgery]]'s cross-corpus form:
   * cut from every training document the token positions covered by
   * an n-gram present in the BENCHMARK set, keeping the rest (ext32
   * flags contaminated docs, ext50 locates the spans; this removes
   * them — the span-cutting decontamination real pipelines run when
   * dropping whole documents wastes too much clean text). Pure
   * composition: the benchmark's distinct shingle hashes become a
   * keeper relation whose keeper is the impossible id −1, so
   * [[dupSpanSurgeryAgainst]] cuts EVERY match — no training doc is
   * ever the keeper of a benchmark n-gram. Same snapshot-artifact
   * boundary: the benchmark hash set is built once and reused
   * (broadcast-sized for real benchmark suites, unlike ext91's
   * corpus-proportional shared set).
   */
  def decontaminationSurgery(corpus: DataFrame, benchmark: DataFrame,
      id: String = "doc_id", text: String = "text",
      n: Int = 3): DataFrame =
    dupSpanSurgeryAgainst(corpus,
      positionalShingles(benchmark, id, text, n)
        .select(col("h")).distinct()
        .withColumn("keeper_id", lit(-1L)),
      id, text, n)

  /** Cosine at/above which a BoW-geometry check confirms a shingle
    * near-dup pair — shared with the ext100 oracle. */
  val LexicalAgreeThreshold = 0.6d

  /**
   * Cross-detector agreement audit: do the shingle detector's near-dup
   * candidates also look similar in BAG-OF-WORDS geometry? Per
   * MinHash-LSH candidate pair, the cosine of the two documents'
   * feature-hashed token-count vectors (the hashing trick, Weinberger
   * et al. — `dims` buckets of exact integer counts), folded into one
   * audit row: pairs, confirmed-at-threshold count, and the mean
   * cosine (per-pair floor-quantized BEFORE summing — no cross-row
   * float accumulation). The disagreement residue is the interesting
   * part: pairs high on shingles but low on BoW are n-gram
   * coincidences (shared boilerplate islands in otherwise different
   * docs) — exactly what a curator inspects before trusting the
   * detector's pair set wholesale. Complements the recall/precision
   * audits (ext54/61): those score the detector against its own
   * Jaccard ground truth; this scores it against an INDEPENDENT
   * representation.
   *
   * Scale shape: the pair list is bounded by the detector; the bucket
   * equi-join fans each pair to ≤ dims rows; counts are exact int64
   * and the division is one IEEE op. Pairs sharing no bucket score 0
   * via the left join.
   */
  def lexicalAgreementAudit(doc: DataFrame, dims: Int = 64,
      threshold: Double = LexicalAgreeThreshold, id: String = "doc_id",
      text: String = "text",
      candidatePairs: Option[DataFrame] = None): DataFrame = {
    // r18: the audit scores whatever pair set it is given — in
    // production the STORED LSH candidate relation (the snapshot
    // artifact the dedup pass already built), rebuilt inline only
    // when no store is supplied
    val pairs = candidatePairs.getOrElse(
      minhashLsh(doc, id, text).select("id_a", "id_b"))
    val bu = Reuse.shared(doc
      .select(col(id),
        explode(graft.ops.TextOps.tokens(col(text))).as("tok"))
      .select(col(id),
        (Hashing.portableHash32(col("tok")) % dims).as("bucket"))
      .groupBy(col(id), col("bucket")).agg(count(lit(1)).as("cnt")))
    val n2 = bu.groupBy(col(id)).agg(sum(col("cnt") * col("cnt")).as("n2"))
    val dots = pairs
      .join(bu.select(col(id).as("id_a"), col("bucket"),
        col("cnt").as("ca")), Seq("id_a"))
      .join(bu.select(col(id).as("id_b"), col("bucket"),
        col("cnt").as("cb")), Seq("id_b", "bucket"))
      .groupBy("id_a", "id_b").agg(sum(col("ca") * col("cb")).as("dot"))
    pairs
      .join(dots, Seq("id_a", "id_b"), "left")
      .join(n2.select(col(id).as("id_a"), col("n2").as("na")), "id_a")
      .join(n2.select(col(id).as("id_b"), col("n2").as("nb")), "id_b")
      .withColumn("cos", coalesce(col("dot").cast("double"), lit(0.0d)) /
        sqrt(col("na").cast("double") * col("nb").cast("double")))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("cos") >= threshold, 1L).otherwise(0L)),
          lit(0L)).as("n_confirmed"),
        coalesce(sum(floor(col("cos") * lit(1e6)).cast("long")), lit(0L))
          .as("_cq"))
      .withColumn("confirm_ppm", when(col("n_pairs") === 0, lit(0L))
        .otherwise(expr("(n_confirmed * 1000000) DIV n_pairs")))
      .withColumn("mean_cos_q", when(col("n_pairs") === 0, lit(0L))
        .otherwise(expr("_cq DIV n_pairs")))
      .select("n_pairs", "n_confirmed", "confirm_ppm", "mean_cos_q")
  }

  /**
   * The review queue of WHAT is duplicated: the top-k n-grams (as
   * text, not hashes) occurring in more than one document, ranked by
   * exact document frequency — the corpus-wide boilerplate strings a
   * curator eyeballs before deciding span surgery (ext91 prices how
   * MUCH is duplicated; this shows the offenders).
   * [[graft.ops.TextOps.zipfHeadCoverage]]'s n-gram-level sibling,
   * restricted to cross-document shares.
   *
   * Scale shape: distinct (doc, ngram) under the position cap, one
   * ngram-keyed count, df ≥ 2 filter, then a distributed TakeOrdered
   * head — k rows ever reach the driver. Grouping is BY THE STRING:
   * a 31-bit hash would birthday-collide distinct n-grams into merged
   * counts at corpus scale, and the report needs the text anyway; the
   * shuffle rows are (ngram, doc) pairs, the same order of bytes the
   * text scan already moved.
   */
  def topSharedNgrams(doc: DataFrame, k: Int = 20,
      id: String = "doc_id", text: String = "text",
      n: Int = 3): DataFrame =
    doc.select(col(id), graft.ops.TextOps.tokens(col(text)).as("_toks"))
      .select(col(id),
        explode(when(size(col("_toks")) >= n,
          sequence(lit(1),
            least(size(col("_toks")) - lit(n - 1), lit(MaxShinglesPerDoc))))
          .otherwise(array().cast("array<int>"))).as("_i"),
        col("_toks"))
      .select(col(id),
        concat_ws(" ", slice(col("_toks"), col("_i"), lit(n))).as("ngram"))
      .distinct()
      .groupBy("ngram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .orderBy(col("df").desc, col("ngram").asc)
      .limit(k)

  /**
   * Cross-key shingle overlap matrix — which SOURCES (or shards, or
   * crawls) duplicate each other: for every ordered key pair (a, b)
   * with any overlap, the count of a's distinct shingles also present
   * in b and the directional containment |H(a)∩H(b)| / |H(a)| in ppm.
   * This is the corpus-level curation signal (mirror sites, syndicated
   * feeds, re-crawls) that doc-level dedup only discovers pair by pair.
   *
   * Scale shape: distinct (key, h) under the per-doc shingle cap, then
   * a key-df cap (`maxKeyFreq`, same discipline as [[MaxShinglesPerDoc]]
   * and ngramJaccard's doc-df cap): a shingle present in more than that
   * many keys is non-discriminative boilerplate AND would fan the h-join
   * out quadratically in |keys| — dropping it bounds per-h work at
   * maxKeyFreq² while the output keeps its meaning. Denominators use
   * the capped sets, so the ratio stays internally consistent. One
   * h-keyed equi-join; output is ≤ |keys|² rows.
   */
  def keyOverlap(doc: DataFrame, key: String = "source",
      text: String = "text", n: Int = 3,
      maxKeyFreq: Int = 50): DataFrame =
    // No checkpoint of the pair relation: since r19 the derivation
    // scans it exactly once (the grouped key-set relation is what has
    // two consumers, and keyOverlapFromPairs materializes that).
    keyOverlapFromPairs(keyShinglePairs(doc, key, text, n), key,
      maxKeyFreq)

  /** The incremental STATE behind [[keyOverlap]]: distinct (key, h)
    * shingle-membership pairs. Set union is the only cross-batch merge,
    * so a streaming twin appends each micro-batch's pairs and the
    * matrix derives from the distinct accumulated table — the key-df
    * cap must apply at DERIVATION time (a shingle's key count grows
    * with the corpus), which is why the cap lives in
    * [[keyOverlapFromPairs]], not here. */
  def keyShinglePairs(doc: DataFrame, key: String = "source",
      text: String = "text", n: Int = 3): DataFrame =
    docShingleHashes(doc, key, text, n).distinct()

  /** [[keyOverlap]]'s matrix from a precomputed distinct (key, h)
    * relation ([[keyShinglePairs]], possibly accumulated across stream
    * batches). r19 shape: ONE h-keyed aggregate collects each
    * shingle's key set (a set of ≤ |keys| short strings — keys are
    * sources/shards/crawls, bounded by definition where doc ids are
    * not); the kdf cap is its size filter, and BOTH the ordered pair
    * counts and the per-key capped sizes explode from the grouped
    * relation. The previous shape paid a cap aggregate + a cap join +
    * an h self-join — three more shuffles of the full pair relation —
    * for the same rows (guide §2.4; the ngramJaccard in-list
    * pair-combos discipline: per-h fan-out is cap-bounded at
    * maxKeyFreq², so the explode is safe where LSH's unbounded
    * buckets would not be). Input is scanned once; the grouped
    * relation (the two-consumer side) is what gets materialized. Over
    * a [[graft.stream.StreamingPipeline.partials]] store of
    * [[keyShinglePairs]] this is the ext68 twin: a pair two batches
    * both contributed counts once, and the cap applies over everything
    * that has arrived — identical to the batch operator on the union. */
  def keyOverlapFromPairs(sh: DataFrame, key: String = "source",
      maxKeyFreq: Int = 50): DataFrame = {
    val g = Reuse.shared(
      sh.groupBy("h").agg(collect_set(col(key)).as("ks"))
        .filter(size(col("ks")) <= maxKeyFreq))
    val sizes = g.select(explode(col("ks")).as("source_a"))
      .groupBy("source_a").agg(count(lit(1)).as("n"))
    g.select(explode(col("ks")).as("source_a"), col("ks"))
      .select(col("source_a"), explode(col("ks")).as("source_b"))
      .filter(col("source_a") =!= col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes, "source_a")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        expr("(n_shared * 1000000) DIV n").as("containment_q"))
  }

  /**
   * The other half of the [[pairRecall]] audit: PRECISION of the
   * candidate generator — what fraction of emitted candidate pairs are
   * true duplicates. Recall prices what the detector MISSES; precision
   * prices what the verify stage WASTES (every false candidate is an
   * exact-Jaccard/cosine verification that returns nothing), so the
   * band/row knobs of a 100 TB run are chosen off BOTH numbers.
   * Mechanically the same one-row summary with the join roles swapped:
   * candidates left-joined to truth.
   */
  def pairPrecision(truth: DataFrame, candidates: DataFrame): DataFrame =
    pairRecall(candidates.select("id_a", "id_b").distinct(), truth)
      .select(col("n_true").as("n_candidates"),
        col("n_detected").as("n_hits"),
        col("recall_q").as("precision_q"))

  /**
   * Turn near-dup PAIRS into a kept corpus: for every pair (a < b), drop
   * b — the standard single-pass policy of large-scale dedup pipelines
   * (exact transitive closure needs iterative connected components; the
   * min-id-survives approximation is one anti-join and keeps at least one
   * representative of every duplicate cluster). `pairs` must carry
   * `id_a < id_b` as produced by the detectors above.
   */
  def keepRepresentatives(doc: DataFrame, pairs: DataFrame,
      id: String = "doc_id"): DataFrame =
    doc.join(
      pairs.select(col("id_b").as(id)).distinct(),
      Seq(id), "left_anti")

  val NumHashes = 16
  val BandRows = 4 // 4 bands × 4 rows

  /** MinHash signature: one hash-aggregate pass computing all NumHashes
    * mins (min((a_j*h + b_j) mod p) per doc) — the multi-aggregate fusion
    * pattern, shuffle stays at |docs| rows. */
  def minhashSignatures(doc: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    // The shingle relation has exactly one consumer here (the min
    // aggregate) — no materialization; the caller checkpoints the much
    // smaller signature table instead.
    signaturesFromHashes(shingleHashes(doc, id, text, materialize = false),
      id)

  /** [[minhashSignatures]] over a pre-built [[shingleGroups]] relation —
    * for compositions that share one shingle pass across detectors. */
  def minhashSignaturesFromGroups(g: DataFrame,
      id: String = "doc_id"): DataFrame =
    signaturesFromHashes(g.select(explode(col("ids")).as(id), col("h")), id)

  private def signaturesFromHashes(sh: DataFrame, id: String): DataFrame = {
    val mins = (0 until NumHashes).map { j =>
      min((col("h") * Hashing.seedA(j) + Hashing.seedB(j))
        % Hashing.Mersenne31).as(s"mh$j")
    }
    sh.groupBy(col(id)).agg(mins.head, mins.tail: _*)
  }

  /** LSH band rows (id, band_id, band_sig) from a MinHash signature
    * table — NumHashes/BandRows bands of BandRows consecutive slots. */
  def bandedSignatures(sig: DataFrame,
      id: String = "doc_id"): DataFrame = {
    val bands = explode(array((0 until NumHashes / BandRows).map { b =>
      struct(lit(b).as("band_id"),
        concat_ws("-", (0 until BandRows).map(r =>
          col(s"mh${b * BandRows + r}").cast("string")): _*).as("band_sig"))
    }: _*)).as("band")
    sig.select(col(id), bands)
      .select(col(id), col("band.band_id"), col("band.band_sig"))
  }

  /** Truncating fixed-point ppm power as a LITERAL left-fold chain —
    * `((base * base) DIV 1e6 * base) DIV 1e6 …`, k−1 multiplies. The
    * SAME string interpolates into both Spark `expr` and the DuckDB
    * oracle, so the truncation ORDER (part of the cross-engine
    * contract, like the margin fold) is identical by construction.
    * Products stay ≤ 1e12 — int64-safe. */
  def fpPowChain(base: String, k: Int): String =
    (2 to k).foldLeft(base)((acc, _) => s"(($acc * $base) DIV 1000000)")

  /**
   * Empirical LSH band-plan tuning card (the S-curve analysis of
   * Leskovec/Rajaraman/Ullman, MMDS ch. 3 — what datasketch's
   * `_optimal_param` does numerically, here computed over the CORPUS'S
   * own near-duplicate pairs instead of an assumed similarity): for
   * every (rows-per-band r, bands b) factorization of [[NumHashes]],
   * the expected MinHash-LSH recall over the true ≥τ Jaccard pairs —
   * E[1 − (1 − s^r)^b] with s each true pair's EXACT integer ppm
   * Jaccard — as one fixed-point int64 row per plan. `bands` is the
   * plan's cost axis (band rows shuffled and banded-state kept scale
   * linearly in b), so the card IS the recall-vs-cost trade the
   * [[minhashLsh]] constants commit to; `in_use` marks the shipped
   * r = [[BandRows]] plan. All powers are [[fpPowChain]] truncating
   * chains — replayed bit-for-bit by the oracle.
   *
   * Scale shape: the truth relation is the ext02/ext54 bounded-Jaccard
   * pair audit (shingle-capped candidate generation, never all-pairs),
   * computed ONCE ([[Reuse.shared]]) and folded by |plans| (= 5 at 16
   * hashes) one-row aggregates; the card itself is |plans| rows.
   */
  def lshBandPlan(doc: DataFrame, tauPpm: Long = 500000L,
      id: String = "doc_id", text: String = "text"): DataFrame =
    lshBandPlanFromGroups(shingleGroups(doc, id, text), tauPpm, id)

  /** [[lshBandPlan]] over a pre-built [[shingleGroups]] relation — the
    * shared-shingle-pass seam (r19): the band-plan card reads the same
    * stored shingle artifact as the containment audit instead of
    * re-exploding the corpus; ext02 still prices the shingle build from
    * scratch (the ext03-prices-the-LSH-build discipline). */
  def lshBandPlanFromGroups(g: DataFrame, tauPpm: Long = 500000L,
      id: String = "doc_id"): DataFrame = {
    val inter = g.select(explode(pairCombos(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    val sizes = g.select(explode(col("ids")).as(id))
      .groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val truth = Reuse.shared(inter
      .join(sizes.select(col(id).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col(id).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .select(expr("(1000000 * n_inter) DIV (n_a + n_b - n_inter)").as("s"))
      .filter(col("s") >= tauPpm))
    // every candidate plan's expected-recall sum rides ONE aggregate
    // pass over the materialized truth (r18: one scan per plan before
    // — same rows, same per-row chain arithmetic, one job)
    val rs = (1 to NumHashes).filter(NumHashes % _ == 0)
    val aggs = count(lit(1)).as("n_true_pairs") +: rs.map { r =>
      val b = NumHashes / r
      sum(expr(s"(1000000 - ${
        fpPowChain(s"(1000000 - ${fpPowChain("s", r)})", b)})"))
        .as(s"_sp$r")
    }
    val row = truth.agg(aggs.head, aggs.tail: _*).first()
    val nTrue = row.getLong(0)
    import scala.jdk.CollectionConverters._
    g.sparkSession.createDataFrame(
      rs.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(r.toLong, (NumHashes / r).toLong,
          nTrue,
          if (nTrue == 0) 0L else row.getLong(1 + i) / nTrue,
          if (r == BandRows) 1L else 0L)
      }.asJava,
      org.apache.spark.sql.types.StructType(
        Seq("rows_per_band", "bands", "n_true_pairs",
          "exp_recall_ppm", "in_use")
          .map(org.apache.spark.sql.types.StructField(_,
            org.apache.spark.sql.types.LongType))))
  }

  /**
   * MinHash + LSH banding: docs agreeing on any band (4 consecutive
   * signature slots) become candidates; est_jaccard = fraction of equal
   * signature slots. The candidate join is an equi-join on
   * (band_id, band_signature) — the LSH bucket — never an all-pairs scan.
   */
  def minhashLsh(doc: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    // One signature row per doc, consumed three times (band explode +
    // both sides of the verify join) — eagerly materialized (see Reuse).
    minhashLshFromSig(Reuse.shared(minhashSignatures(doc, id, text)), id)

  /** [[minhashLsh]] from an ALREADY-MATERIALIZED signature table (it is
    * consumed three times — pass it through [[Reuse.shared]] first). */
  def minhashLshFromSig(sig: DataFrame,
      id: String = "doc_id"): DataFrame = {
    val banded = bandedSignatures(sig, id)
    // Candidates via the banded SELF-JOIN, not the in-list combination
    // explode used by ngramJaccard: LSH band buckets have NO size bound
    // (a mass-duplicate family — 100k copies of one boilerplate page —
    // shares every band), so collecting a bucket's members into one
    // array row would materialize m²/2 pairs in a single value and hit
    // the 2 GB array limit, where the join streams the same quadratic
    // output across tasks. The combos trick is only safe behind a
    // bounded collector (shingleGroups' TopKIds cap).
    val cand = banded.toDF("id_a", "band_id", "band_sig")
      .join(banded.toDF("id_b", "band_id", "band_sig"),
        Seq("band_id", "band_sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val eq = (0 until NumHashes)
      .map(j => when(col(s"a.mh$j") === col(s"b.mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sig.as("a"), col("id_a") === col(s"a.$id"))
      .join(sig.as("b"), col("id_b") === col(s"b.$id"))
      .select(col("id_a"), col("id_b"),
        (eq.cast("double") / NumHashes).as("est_jaccard"))
  }

  /**
   * Incremental corpus dedup — the production shape of a growing
   * corpus: each crawl increment is deduped against the EXISTING corpus
   * via its stored band table (signatures are computed once per corpus
   * generation and persisted; the corpus text is never re-shingled) and
   * against lower-id docs of the increment itself. A new doc sharing
   * any LSH band with either partner set is dropped; survivors are the
   * docs to append (their bands then extend the stored table).
   *
   * `corpusBands` is the stored relation as produced by
   * [[bandedSignatures]]; ids must be disjoint from the increment's.
   * Scale shape: the increment (small) is the only side shingled; the
   * drop decision is one equi-join on the band key against
   * corpus ∪ increment bands, then an anti-join.
   */
  def dedupeIncrement(corpusBands: DataFrame, newDocs: DataFrame,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    // The increment's band rows probe AND serve as partners — two
    // consumers of the signature pass, materialized once (see Reuse).
    val nb = Reuse.shared(
      bandedSignatures(minhashSignatures(newDocs, id, text), id))
    val partners = corpusBands
      .select(col(id).as("_pid"), col("band_id"), col("band_sig"),
        lit(true).as("_corpus"))
      .union(nb.select(col(id).as("_pid"), col("band_id"),
        col("band_sig"), lit(false).as("_corpus")))
    val dropped = nb.join(partners, Seq("band_id", "band_sig"))
      .filter(col("_corpus") || col("_pid") < col(id))
      .select(col(id)).distinct()
    newDocs.join(dropped, Seq(id), "left_anti")
  }

  /**
   * SimHash near-dup: 32-bit simhash from token hashes (per-bit ±1 vote,
   * bit set when the vote sum is positive), candidates from 8-bit chunk
   * equality (pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 chunks equal), verified
   * with bit_count(xor) ≤ maxHamming.
   */
  def simhash(doc: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    voteSimhash(doc, id, text, salts = Seq(""), bitsPerHash = 32)

  /**
   * Shared one-pass vote-aggregate builder behind [[simhash]] (32-bit)
   * and [[simhashWide]] (60-bit): each salt prefix contributes
   * `bitsPerHash` signature bits from one portableHash32 of the salted
   * token; bit i votes with ±1 per token and is set when the sum is
   * positive. All salts.length × bitsPerHash vote sums are columns of
   * ONE hash-aggregate pass (multi-aggregate fusion) — no ×bits row
   * explode, no second shuffle; partial aggregation ships one
   * wide row per doc per partition.
   */
  private def voteSimhash(doc: DataFrame, id: String, text: String,
      salts: Seq[String], bitsPerHash: Int): DataFrame = {
    val hashCols = salts.zipWithIndex.map { case (salt, j) =>
      val tok = if (salt.isEmpty) col("tok") else concat(lit(salt), col("tok"))
      Hashing.portableHash32(tok).as(s"h$j")
    }
    val th = doc
      .select(col(id), explode(TextOps.tokens(col(text))).as("tok"))
      .select(col(id) +: hashCols: _*)
    val nBits = salts.length * bitsPerHash
    val votes = (0 until nBits).map(i =>
      sum(expr(s"CAST(2 * (shiftright(h${i / bitsPerHash}, " +
        s"${i % bitsPerHash}) & 1) - 1 AS BIGINT)")).as(s"v$i"))
    val bits = (0 until nBits).map(i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
    th.groupBy(col(id))
      .agg(votes.head, votes.tail: _*)
      .select(col(id), bits.reduce(_ + _).as("simhash"))
  }

  /** Scale note: 4×8-bit chunks give only 4×256 candidate buckets —
    * ample at test scale, a fan-out ceiling on a billion-doc corpus
    * (every bucket holds ~n/1024 docs). [[simhashPairsWide]] is the
    * production form (60-bit hash, 4×15-bit chunks → 4×32768 buckets,
    * same plan shape); this 32/8 variant is kept as the compact
    * reference point (ext04). The r6 10x scale smoke (50k docs): 14.5 s
    * and 8.10 M pairs here vs 4.2 s and 0.28 M for the wide form. */
  def simhashPairs(doc: DataFrame, id: String = "doc_id",
      text: String = "text", maxHamming: Int = 3): DataFrame =
    chunkedHammingPairs(Reuse.shared(simhash(doc, id, text)), id,
      nChunks = 4, chunkBits = 8, maxHamming = maxHamming)

  /** The DISTINCT candidate pairs of the chunk-bucket equi-join with
    * their exact Hamming distance, unfiltered — [[chunkedHammingPairs]]
    * applies the radius; the ext171 production-regime ledger prices
    * the same candidate set (survivor + volume columns). */
  private[ops] def chunkedCandidates(sh: DataFrame, id: String,
      nChunks: Int, chunkBits: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1
    val chunks = sh.select(col(id), col("simhash"),
        explode(sequence(lit(0), lit(nChunks - 1))).as("chunk_id"))
      .withColumn("chunk",
        expr(s"shiftright(simhash, CAST(chunk_id * $chunkBits AS INT)) " +
          s"& $mask"))
    chunks.select(col(id).as("id_a"), col("simhash").as("sh_a"),
        col("chunk_id"), col("chunk"))
      .join(chunks.select(col(id).as("id_b"), col("simhash").as("sh_b"),
        col("chunk_id"), col("chunk")), Seq("chunk_id", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")
          .as("hamming"))
      .distinct()
  }

  /** Chunk-bucketed hamming candidate join over a (id, simhash)
    * relation: pigeonhole guarantees hamming ≤ (nChunks - 1) pairs share
    * at least one equal chunk; exact bit_count(xor) verifies.
    * Shared with the multimodal perceptual-hash detector
    * ([[Multimodal.phashPairs]]) — any (id, 60-bit signature) relation
    * buckets the same way. */
  private[ops] def chunkedHammingPairs(sh: DataFrame, id: String,
      nChunks: Int, chunkBits: Int, maxHamming: Int): DataFrame =
    chunkedCandidates(sh, id, nChunks, chunkBits)
      .filter(col("hamming") <= maxHamming)

  /** 60-bit simhash from TWO salted token hashes (bits 0-29 from
    * 'w0:'+token, 30-59 from 'w1:'+token — portableHash32 gives 31
    * usable bits, 30 keeps the split even). Same [[voteSimhash]]
    * aggregate as [[simhash]], 60 sum columns. */
  def simhashWide(doc: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    voteSimhash(doc, id, text, salts = Seq("w0:", "w1:"), bitsPerHash = 30)

  /** Production-scale simhash near-dup: 60-bit signature, 4×15-bit
    * chunks → 4×32768 candidate buckets (vs [[simhashPairs]]' 4×256 —
    * the fan-out ceiling the r6 10x scale smoke measured: 4.2 s vs
    * 14.5 s). Same pigeonhole bound (hamming ≤ 3 ⇒ ≥1 equal chunk),
    * same plan shape. */
  def simhashPairsWide(doc: DataFrame, id: String = "doc_id",
      text: String = "text", maxHamming: Int = 3): DataFrame =
    chunkedHammingPairs(Reuse.shared(simhashWide(doc, id, text)), id,
      nChunks = 4, chunkBits = 15, maxHamming = maxHamming)

  /**
   * Duplication-aware sampling weights — SOFT dedup: instead of keeping
   * one doc per near-dup family (ext47's keeper in
   * [[graft.registry.DedupQueries]]), every doc stays but its sampling
   * weight is 1e6 / |family| ppm, so a
   * family's total draw mass equals one document's. The form the
   * mixture literature prefers when near-dups carry non-identical
   * content (hard dedup discards the variants; down-weighting keeps
   * them at unduplicated pressure). Composes directly with
   * [[Sampling.weightedTopK]] / [[Sampling.acceptByRate]].
   *
   * Reads the stored cluster map (a build-once corpus-snapshot
   * artifact, same lifecycle as ext47/ext64). Scale shape: family
   * sizes are one cluster-keyed count over the map; the size joins
   * back member-keyed, then ONE id-keyed left join against the corpus
   * — the map side is the clustered subset (usually ≪ corpus), but it
   * scales with corpus redundancy, so it stays a shuffle join, never a
   * broadcast. Unclustered docs weigh the full 1e6.
   */
  def dedupWeights(doc: DataFrame, clusters: DataFrame,
      id: String = "doc_id"): DataFrame = {
    // The map relation feeds BOTH the size aggregate and the member
    // join — materialize it once (Reuse.shared), or an unstored
    // cluster plan (LSH + iterative components) executes twice: the
    // r7 10x scale smoke measured 27.8 s raw vs ~8 s for the map build
    // itself before this cut. A stored (Reuse.index) map pays only a
    // redundant small persist.
    val cl = Reuse.shared(clusters.select(col(id), col("cluster_id")))
    val sized = cl.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    val member = cl.join(sized, Seq("cluster_id"))
      .select(col(id), col("n_members"))
    doc.select(col(id))
      .join(member, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_members"), lit(1L)).as("n_members"))
      .withColumn("weight_ppm", expr("1000000 DIV n_members"))
  }

  /**
   * Corpus snapshot diff — the crawl-over-crawl audit: how much of
   * snapshot B's exact content already existed in snapshot A, and how
   * much of A vanished. Texts compare by full md5 (exact content
   * identity — a 31-bit hash would birthday-collide into phantom
   * "both" rows at corpus scale); output is the 3-row
   * {both, only_a, only_b} → distinct-text-count table that decides
   * whether an incremental ingest ([[ngramJaccardIncremental]]'s
   * lifecycle) or a full re-dedup is warranted.
   *
   * Scale shape: one distinct per side (hash-keyed, map-side
   * combined), a full-outer join that reuses the distincts'
   * hash partitioning, and a 3-group aggregate. No all-pairs, no
   * text shuffled — only digests.
   */
  def snapshotDiff(a: DataFrame, b: DataFrame,
      text: String = "text"): DataFrame = {
    val ha = a.select(md5(col(text)).as("h")).distinct()
      .withColumn("_a", lit(1L))
    val hb = b.select(md5(col(text)).as("h")).distinct()
      .withColumn("_b", lit(1L))
    ha.join(hb, Seq("h"), "full_outer")
      .select(when(col("_a").isNotNull && col("_b").isNotNull, "both")
        .when(col("_a").isNotNull, "only_a")
        .otherwise("only_b").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n_texts"))
  }
}
