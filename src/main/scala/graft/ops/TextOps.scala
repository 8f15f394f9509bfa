package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a training-data pipeline (SURVEY.md §7.1 M6):
 * tokenization, shingling, language-ID scoring, quality scoring, token
 * counting, document fingerprinting.
 *
 * Everything here is a pure column expression over `functions._` — fully
 * codegen'd, no UDFs — so a 100 TB documents scan stays inside one
 * WholeStageCodegen span with the parquet reader.
 *
 * Cross-engine determinism: token positions and hashes use the portable
 * md5-hex → int scheme of [[Hashing]]; ratios are single IEEE double
 * operations in a fixed expression order.
 */
object TextOps {

  def tokens(text: Column): Column = split(text, " ")

  /** Upper bound on chunks emitted per document by [[chunkWithOverlap]]
    * (and so by the boilerplate chunker built on it). The SAME constant
    * is interpolated into the ext53/ext59 DuckDB oracles' `range(0, N)`
    * — the bound has to be enforced on BOTH sides or parity silently
    * breaks for docs longer than the cap (r5 ADVICE; same discipline as
    * [[Dedup.MaxShinglesPerDoc]], which ext55 mirrors). At 100 TB the
    * cap is also the fan-out bound: no document explodes into more than
    * this many chunk rows regardless of its length. */
  val MaxChunksPerDoc = 64

  /** Membership count of tokens against a plan-time word set — the
    * native one-loop kernel ([[graft.functions.CountInSet]]). */
  private[graft] def countInSet(toks: Column, words: Seq[String]): Column =
    graft.functions.CountInSet(toks, words)

  /** Composed-builtin specification of [[countInSet]] — the readable
    * HOF form (CodegenFallback, banned from scan hot paths since the r3
    * ext02 spike), kept for parity tests (TextKernelsSpec). */
  private[graft] def countInSetComposed(toks: Column,
      words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words))).cast("long")

  /** Composed-builtin specification of the BPE estimate (floor of a
    * positive double ratio == the integer div of the native kernel). */
  private[graft] def bpeEstimateComposed(toks: Column): Column =
    aggregate(transform(toks,
      t => floor((length(t) + lit(3)) / lit(4)).cast("long")),
      lit(0L), (a, x) => a + x)

  /** Word n-gram shingles (default trigrams) as an array column. Docs with
    * fewer than `n` tokens yield an EMPTY array — the guard matters because
    * `sequence(1, 0)` in Spark is the descending array [1, 0], whose 0
    * index would throw under ANSI slice, not an empty sequence. */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /**
   * Sliding-window document chunking with overlap — the context-window
   * splitter feeding RAG indexing and fixed-window pretraining: chunk k
   * covers tokens [k·stride + 1, k·stride + chunkTokens] (1-based,
   * stride = chunkTokens − overlap), so consecutive chunks share exactly
   * `overlap` tokens and every token lands in ≥1 chunk; the last chunk
   * may run short (it clamps at the doc's end). Docs with zero tokens
   * yield no chunks; docs longer than `maxChunks · stride + overlap`
   * tokens are truncated at `maxChunks` chunks ([[MaxChunksPerDoc]]).
   * Truncation is DETECTABLE, not silent (r6 ADVICE): every chunk row
   * carries the doc's full token count `n_toks`, so a capped doc shows
   * `max(tok_end) < n_toks` and consumers can count exactly what the
   * cap dropped.
   *
   * Scale shape: explode-first like the shingle pipeline — the chunk
   * index range explodes per row, then start/end/text are flat per-row
   * projections (`slice`/`concat_ws`, all codegen'd; no per-doc array
   * lambda). Fan-out is n/stride rows per doc — inherent to the op, no
   * shuffle until whatever consumes the chunks.
   */
  def chunkWithOverlap(doc: DataFrame, chunkTokens: Int = 32,
      overlap: Int = 8, id: String = "doc_id",
      text: String = "text", maxChunks: Int = MaxChunksPerDoc): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    require(maxChunks >= 1, "maxChunks must be >= 1")
    val stride = chunkTokens - overlap
    doc.select(col(id), tokens(col(text)).as("_toks"))
      .select(col(id), col("_toks"),
        explode(when(size(col("_toks")) > 0,
          sequence(lit(0),
            least(
              ceil(greatest(size(col("_toks")) - lit(chunkTokens), lit(0))
                .cast("double") / lit(stride)).cast("int"),
              lit(maxChunks - 1))))
          .otherwise(array().cast("array<int>"))).as("_k"))
      .select(col(id),
        col("_k").cast("long").as("chunk_id"),
        (col("_k") * stride + 1).cast("long").as("tok_start"),
        least(col("_k") * stride + chunkTokens, size(col("_toks")))
          .cast("long").as("tok_end"),
        size(col("_toks")).cast("long").as("n_toks"),
        concat_ws(" ",
          slice(col("_toks"), col("_k") * stride + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /**
   * Cross-document boilerplate span removal — the C4/CCNet "drop
   * repeated paragraphs" curation stage: the corpus is cut into
   * non-overlapping `chunkTokens`-token spans ([[chunkWithOverlap]]
   * with overlap 0 — these synthetic docs have no paragraph marks; real
   * corpora would split on them first), any span whose content hash
   * appears in MORE than `maxDocFreq` distinct docs is boilerplate
   * (nav bars, license headers, templated footers), and each doc's
   * clean text is its surviving spans re-joined in order. Docs reduced
   * to nothing stay in the output with empty text and full drop counts.
   *
   * Scale shape: the chunk relation is |tokens|/chunkTokens rows (the
   * same explode-first codegen chain as the chunker); the df aggregate
   * is one keyed shuffle, map-side combined; the hot set is SMALL by
   * definition (boilerplate = high-df outliers) so the marking join
   * broadcasts; reassembly is one doc-keyed aggregate whose per-doc
   * array is bounded by doc length — never corpus-proportional.
   */
  def boilerplateRemoval(doc: DataFrame, chunkTokens: Int = 16,
      maxDocFreq: Int = 1, id: String = "doc_id",
      text: String = "text"): DataFrame =
    boilerplateRemovalAgainst(doc,
      boilerplateSpans(doc, chunkTokens, maxDocFreq, id, text),
      chunkTokens, id, text)

  /** The corpus's hot-span hash set (df > maxDocFreq distinct docs) —
    * the small broadcast side of every boilerplate probe; computed ONCE
    * per corpus snapshot (offline in the streaming twin,
    * [[boilerplateRemovalAgainst]] under
    * [[graft.stream.StreamingPipeline.partialsSink]]). */
  def boilerplateSpans(doc: DataFrame, chunkTokens: Int = 16,
      maxDocFreq: Int = 1, id: String = "doc_id",
      text: String = "text"): DataFrame =
    chunkWithOverlap(doc, chunkTokens, 0, id, text)
      .select(col(id),
        Hashing.portableHash32(col("chunk_text")).as("h"))
      .groupBy(col("h"))
      .agg(countDistinct(col(id)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("h"))

  /** [[boilerplateRemoval]] against a precomputed [[boilerplateSpans]]
    * set — the reusable probe (chunkTokens must match the set's). This
    * is the streaming twin's per-batch form (ext59): boilerplate is a
    * corpus-level property, so the set is computed offline per snapshot
    * (recomputing df inside a stream would drift with arrival order),
    * and each batch of docs is cleaned independently against it. */
  def boilerplateRemovalAgainst(doc: DataFrame, hotSpans: DataFrame,
      chunkTokens: Int = 16, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val chunks = chunkWithOverlap(doc, chunkTokens, 0, id, text)
      .select(col(id), col("chunk_id"),
        col("chunk_text"), col("tok_end"), col("n_toks"),
        Hashing.portableHash32(col("chunk_text")).as("h"))
    val marked = chunks.join(
      broadcast(hotSpans.select(col("h"), lit(1L).as("_hot"))),
      Seq("h"), "left")
    // ONE doc-keyed aggregate computes counts AND the reassembled text:
    // `collect_list` drops null elements, so hot chunks vanish from the
    // survivor list inside the same pass (the r6 plan-budget audit
    // caught the previous stats⋈texts shape re-planning the whole
    // chunk+probe subtree under each consumer — 11 shuffles where this
    // needs 3). A fully-hot doc collects an empty list → '' text.
    // Post-aggregate reassembly over a ≤ tokens/chunkTokens-element
    // array per doc — the bounded-array HOF case, not a scan hot path.
    marked.groupBy(col(id))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_hot").isNotNull, 1L).otherwise(0L))
          .as("n_dropped"),
        // The chunker's MaxChunksPerDoc cap is not silent here (r6
        // ADVICE): with overlap 0 the chunks tile [1, max(tok_end)], so
        // tokens past the cap are exactly n_toks - max(tok_end) — 0 for
        // every uncapped doc.
        (max(col("n_toks")) - max(col("tok_end"))).as("n_toks_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("_hot").isNull,
            struct(col("chunk_id"), col("chunk_text"))))),
          s => s.getField("chunk_text")), " ").as("clean_text"))
  }

  /** Whitespace token count + a BPE-ish subword estimate:
    * ceil(len/4) per token via integer math ((len+3) div 4). */
  def tokenCounts(doc: DataFrame, text: String = "text"): DataFrame =
    doc
      .withColumn("toks", tokens(col(text)))
      .withColumn("n_ws_tokens", size(col("toks")).cast("long"))
      .withColumn("n_bpe_est", graft.functions.BpeEstimate(col("toks")))

  /** Language-ID by marker-token scoring (n-gram-heuristic shape): counts
    * of per-language marker words; predicted = argmax with a fixed
    * tie-break order. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "value", "row"),
    "es" -> Seq("data", "part", "batch"),
    "zh" -> Seq("window", "merge", "join"))

  def langScores(doc: DataFrame, text: String = "text"): DataFrame = {
    val withScores = LangMarkers.toSeq.sortBy(_._1).foldLeft(
      doc.withColumn("toks", tokens(col(text)))) { case (d, (lang, ms)) =>
      d.withColumn(s"score_$lang", countInSet(col("toks"), ms))
    }
    withScores.withColumn("predicted",
      when(col("score_en") >= col("score_es") &&
           col("score_en") >= col("score_zh"), lit("en"))
        .when(col("score_es") >= col("score_zh"), lit("es"))
        .otherwise(lit("zh")))
  }

  /**
   * Language-ID confidence margin — the THRESHOLD signal [[langScores]]
   * lacks: a crawl pipeline doesn't act on the argmax label alone, it
   * acts on how far the winner is ahead (fasttext-style routing keeps
   * a doc only when the top-language score clears the runner-up by a
   * margin; ties are exactly the docs that go to human/secondary
   * review). Per doc: best and second-best marker scores, their
   * difference, the per-token margin in ppm (`(margin·10⁶) DIV
   * n_toks`, 0 for empty docs — all terms non-negative, so trunc-vs-
   * floor DIV never diverges), and `confident = margin_ppm ≥
   * threshold` (default 1000 ppm = one marker word per 1000 tokens of
   * daylight). With three scores the runner-up is total − max − min —
   * no sort, pure codegen'd projection.
   *
   * Scale shape: [[langScores]]' stateless marker-count projection +
   * arithmetic — zero shuffles beyond the scan; rows == docs.
   */
  def langidMargin(doc: DataFrame, thresholdPpm: Long = 1000L,
      id: String = "doc_id", text: String = "text"): DataFrame =
    langScores(doc.select(col(id), col(text)), text)
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("best",
        greatest(col("score_en"), col("score_es"), col("score_zh")))
      .withColumn("second",
        col("score_en") + col("score_es") + col("score_zh")
          - col("best")
          - least(col("score_en"), col("score_es"), col("score_zh")))
      .withColumn("margin", col("best") - col("second"))
      .withColumn("margin_ppm",
        when(col("n_toks") === 0L, 0L)
          .otherwise(expr("(margin * 1000000) DIV n_toks")))
      .withColumn("confident",
        (col("margin_ppm") >= thresholdPpm).cast("long"))
      .select(col(id), col("predicted"), col("n_toks"), col("best"),
        col("second"), col("margin"), col("margin_ppm"),
        col("confident"))

  /**
   * Code-switch segmentation — WITHIN-document language structure,
   * where [[langScores]] gives one label per doc: the token stream is
   * cut into fixed `windowTokens` windows, each window language-ID'd
   * by the same marker scoring and tie-break chain as [[langScores]],
   * and consecutive same-language windows merge into segments
   * (gaps-and-islands). Output one row per (doc, segment): its index,
   * language, starting window and window count — the relation a
   * multilingual pipeline routes on (mixed-language docs go to
   * splitting, not to a single-language bucket; a doc's segment count
   * minus one IS its code-switch count).
   *
   * Scale shape: one posexplode pass, a (doc, window)-keyed
   * aggregation that collapses map-side (window scores are sums), and
   * two bounded per-doc window functions over the ≤tokens/windowTokens
   * window relation — never over raw tokens. All integer counts and a
   * fixed tie-break: engine-portable.
   */
  def langSegments(doc: DataFrame, windowTokens: Int = 16,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val toks = doc.select(col(id),
        posexplode(tokens(col(text))).as(Seq("pos", "tok")))
      .withColumn("win", expr(s"pos DIV $windowTokens"))
    val scoreCols = LangMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      sum(when(col("tok").isin(ms: _*), 1L).otherwise(0L))
        .as(s"score_$lang")
    }
    val scored = toks.groupBy(col(id), col("win"))
      .agg(scoreCols.head, scoreCols.tail: _*)
    val predicted = scored.withColumn("lang",
      when(col("score_en") >= col("score_es") &&
           col("score_en") >= col("score_zh"), lit("en"))
        .when(col("score_es") >= col("score_zh"), lit("es"))
        .otherwise(lit("zh")))
    val islands = predicted.withColumn("isl",
      col("win") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(id), col("lang")).orderBy("win")))
    islands.groupBy(col(id), col("lang"), col("isl"))
      .agg(min("win").as("seg_start"), count(lit(1)).as("n_windows"))
      .withColumn("seg_idx", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(id)).orderBy("seg_start")).cast("long"))
      .select(col(id), col("seg_idx"), col("lang"),
        col("seg_start"), col("n_windows"))
  }

  /** Quality scoring: length, word count, stopword ratio, non-alpha ratio,
    * combined into a fixed-order double formula. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and")

  def quality(doc: DataFrame, text: String = "text"): DataFrame =
    doc
      .withColumn("toks", tokens(col(text)))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_chars_nospace",
        length(regexp_replace(col(text), " ", "")).cast("long"))
      .withColumn("n_stop", countInSet(col("toks"), Stopwords))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_words").cast("double"))
      .withColumn("avg_word_len",
        col("n_chars_nospace").cast("double") / col("n_words").cast("double"))
      .withColumn("quality_score",
        least(col("n_words").cast("double") / lit(100.0), lit(1.0)) *
          lit(0.5) + col("stop_ratio") * lit(0.5))

  /** Quantile-threshold keep-pass (ext67): each scored doc (a
    * [[quality]] relation) meets its `lang`'s threshold row, a
    * |langs|-row (lang, p50) table broadcast to the scan, and is kept
    * iff its `quality_score` clears that `p50`. No shuffle and no
    * state, so the same kernel filters a live stream against
    * thresholds computed offline per corpus snapshot (a running
    * quantile would drift the cutoff with arrival order). */
  def quantileKeep(scored: DataFrame, thresholds: DataFrame): DataFrame =
    scored.join(broadcast(thresholds), "lang")
      .filter(col("quality_score") >= col("p50"))

  /** Default Gopher-rule bounds (tokens, quantized mean word length
    * ‰, stopword hits) — interpolated into the ext71 oracle, so both
    * engines must read the same constants. */
  val GopherMinToks = 30L
  val GopherMaxToks = 100000L
  val GopherMinMwlQ = 3000L
  val GopherMaxMwlQ = 10000L
  val GopherMinStop = 2L

  /**
   * Gopher-style per-document quality RULES (Rae et al. 2021 §A1.1
   * shape): instead of one blended score ([[quality]]), each rule is an
   * explicit 0/1 flag and the keep decision is their conjunction — the
   * form a curation pipeline audits ("how many docs fail ONLY the
   * word-length rule?") and tunes per corpus:
   *
   *  - `r_len`:  token count within [GopherMinToks, GopherMaxToks];
   *  - `r_mwl`:  mean word length within [3, 10] chars (quantized ‰,
   *    integer DIV — exact cross-engine, no float division);
   *  - `r_stop`: at least GopherMinStop stopword occurrences (the
   *    "natural language, not a keyword list" test).
   *
   * All-integer output. Scale shape: pure stateless projection over the
   * scan — token count, char count, and the native [[countInSet]]
   * kernel, all inside WholeStageCodegen; no shuffle, no HOF, trivially
   * streaming-safe (same row in any batching).
   */
  def gopherRules(doc: DataFrame, text: String = "text"): DataFrame = {
    val flag = (c: Column) => when(c, 1L).otherwise(0L)
    doc
      .withColumn("toks", tokens(col(text)))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("_nc",
        length(regexp_replace(col(text), " ", "")).cast("long"))
      .withColumn("mwl_q", expr("(_nc * 1000) DIV n_toks"))
      .withColumn("stop_hits", countInSet(col("toks"), Stopwords))
      .withColumn("r_len", flag(
        col("n_toks").between(GopherMinToks, GopherMaxToks)))
      .withColumn("r_mwl", flag(
        col("mwl_q").between(GopherMinMwlQ, GopherMaxMwlQ)))
      .withColumn("r_stop", flag(col("stop_hits") >= GopherMinStop))
      .withColumn("keep", col("r_len") * col("r_mwl") * col("r_stop"))
      .drop("toks", "_nc")
  }

  /** Per-stratum COMMUTATIVE partials of the Gopher pass-rate table
    * (ext84): doc count + per-rule pass sums — one tiny relation per
    * micro-batch in the streaming twin
    * ([[graft.stream.StreamingPipeline.partialsSink]]). */
  def gopherPassPartials(doc: DataFrame,
      strata: Seq[String] = Seq("source"),
      text: String = "text"): DataFrame =
    gopherRules(doc, text)
      .groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("r_len")).as("pass_len"),
        sum(col("r_mwl")).as("pass_mwl"),
        sum(col("r_stop")).as("pass_stop"),
        sum(col("keep")).as("pass_all"))

  /** The keep-rate fold over pass-rate partials; duplicate stratum
    * keys across batches sum before the ppm math, so the fold is exact
    * at any batching. */
  def gopherPassRatesFromCounts(raw: DataFrame): DataFrame = {
    val keys = raw.columns.filterNot(
      Set("n_docs", "pass_len", "pass_mwl", "pass_stop", "pass_all")).toSeq
    raw.groupBy(keys.map(col): _*)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("pass_len")).as("pass_len"),
        sum(col("pass_mwl")).as("pass_mwl"),
        sum(col("pass_stop")).as("pass_stop"),
        sum(col("pass_all")).as("pass_all"))
      .withColumn("keep_ppm", expr("(pass_all * 1000000) DIV n_docs"))
  }

  /**
   * Intra-document repetition metrics — the Gopher-style "repetitious
   * text" quality rules: a document whose 2-grams are mostly the same
   * few strings, or where a single token dominates, is boilerplate/spam
   * with high probability and a pretraining pipeline filters it.
   *
   *  - `dup_2gram_ratio`  = 1 - distinct(2-grams)/total(2-grams)
   *    (0 when the doc has fewer than 2 tokens);
   *  - `top_tok_ratio`    = occurrences of the most frequent token /
   *    total tokens (ties irrelevant: only the max count matters).
   *
   * Both metrics ride ONE kind-tagged aggregate chain: a single
   * position explode emits each token as a `t` row and (when a
   * successor exists) its 2-gram as a `g` row — a Generate over a
   * 2-element literal array, all codegen, no lambda — so the corpus is
   * scanned once and both two-level aggregates share the same two
   * exchanges (the r6 plan-budget audit caught the previous
   * per-metric-chain shape at double the shuffles). Exact-arithmetic
   * portable: counts are integers, each ratio is a single double
   * division.
   */
  def repetition(doc: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val rows = doc.select(col(id), tokens(col(text)).as("_toks"))
      .select(col(id), col("_toks"),
        posexplode(col("_toks")).as(Seq("_i", "_t")))
      .select(col(id), explode(array(
        struct(lit("t").as("k"), col("_t").as("v")),
        struct(lit("g").as("k"),
          // CaseWhen evaluates lazily per row, so the out-of-bounds
          // element_at (ANSI) is never reached on the last position.
          when(col("_i") < size(col("_toks")) - 1,
            concat_ws(" ", col("_t"),
              element_at(col("_toks"), col("_i") + 2))).as("v"))))
        .as("kv"))
      .select(col(id), col("kv.k").as("k"), col("kv.v").as("v"))
      .filter(col("v").isNotNull)
    val agg = rows.groupBy(col(id), col("k"), col("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(id))
      .agg(sum(when(col("k") === "g", col("c"))).as("n_2grams"),
        count(when(col("k") === "g", 1)).as("n_distinct_2grams"),
        sum(when(col("k") === "t", col("c"))).as("n_toks"),
        max(when(col("k") === "t", col("c"))).as("top_tok"))
    doc.select(col(id))
      .join(agg, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_2grams"), lit(0L)).as("n_2grams"),
        coalesce(col("n_distinct_2grams"), lit(0L))
          .as("n_distinct_2grams"),
        when(coalesce(col("n_2grams"), lit(0L)) === 0L, lit(0.0d))
          .otherwise(lit(1.0d) - col("n_distinct_2grams").cast("double") /
            col("n_2grams").cast("double")).as("dup_2gram_ratio"),
        (col("top_tok").cast("double") / col("n_toks").cast("double"))
          .as("top_tok_ratio"))
  }

  /**
   * TF-IDF top-k terms per document — the term-salience step of corpus
   * analytics / keyword extraction. The idf is the DIVISION form
   * `idf_q = floor(1e6 * N/df)` rather than the classical `ln(N/df)`:
   * IEEE division, multiplication and floor are exactly-rounded and so
   * bit-portable across engines, `ln` is not (libm implementations
   * differ in the last ulp) — and for per-document RANKING the two are
   * order-equivalent (both strictly decreasing in df). The score
   * `tf * idf_q` stays exact int64.
   *
   * Scale shape: tf is ONE map-side-combined keyed shuffle on
   * (doc, term); df is a second aggregate over the already-distinct
   * (vocab-bounded) tf relation, not a second corpus pass; N joins as a
   * broadcast 1-row relation; the per-doc top-k is row_number-over-window
   * → Catalyst's WindowGroupLimit keeps k rows per doc per map task
   * BEFORE the rank shuffle.
   */
  def tfidfTopK(doc: DataFrame, k: Int = 5, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tf feeds both the df aggregate and the score join — materialized
    // once (see [[Reuse]]) so the corpus explode+agg runs a single time.
    val tf = Reuse.shared(
      doc.select(col(id), explode(tokens(col(text))).as("term"))
        .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf")))
    // Left as-is (r19, measured): a repartition(term) meant to collapse
    // the df-aggregate and score-join exchanges ADDED a shuffle — the
    // planner already broadcasts the checkpointed tf relation into the
    // idf join (zero tf-side shuffles) and the df aggregate keeps its
    // map-side partial combine (PlanBudget 5 → 6 shuffles, reverted).
    val dfTerm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = doc.agg(count(lit(1)).as("n_docs"))
    val idf = dfTerm.crossJoin(broadcast(nDocs))
      .select(col("term"),
        floor(lit(1000000.0d) *
          (col("n_docs").cast("double") / col("df").cast("double")))
          .cast("long").as("idf_q"))
    val w = Window.partitionBy(col(id))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(idf, "term")
      .withColumn("score", col("tf") * col("idf_q"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(id), col("term"), col("tf"), col("score"), col("rank"))
  }

  /**
   * Inverted index: term → exact document frequency + the first `k`
   * posting doc_ids ascending, serialized as a comma-joined string (the
   * cross-engine-stable array encoding). ONE keyed shuffle end-to-end:
   * the (doc, term) dedup is doc-LOCAL (`array_distinct` before the
   * explode — no distinct shuffle), and the posting list is the bounded
   * [[graft.agg.TopKIds]] aggregator (weight = -doc_id ⇒ smallest ids
   * kept, ascending), so map-side partials carry at most k ids per term
   * into the exchange where `collect_list` would buffer entire postings
   * — at 100 TB a stopword's posting list IS the corpus.
   */
  def invertedIndex(doc: DataFrame, k: Int = 20, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val pairs = doc.select(col(id).as("did"),
      explode(array_distinct(tokens(col(text)))).as("term"))
    pairs.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        graft.agg.TopK.topKIds(k)(
          -col("did").cast("double"), col("did")).as("ids"))
      .select(col("term"), col("df"),
        array_join(transform(col("ids"), x => x.cast("string")), ",")
          .as("postings"))
  }

  /**
   * Vocabulary growth curve (Heaps'-law shape): distinct-token and
   * total-token counts over growing doc_id-ordered prefixes of the
   * corpus — the number that predicts tokenizer OOV/coverage for a
   * planned crawl extension BEFORE paying for it.
   *
   * Scale shape: ONE token explode feeds a `groupBy(token).min(doc_id)`
   * (a token is "new at prefix p" iff its first host doc is inside p —
   * no per-prefix re-scan), then each token/doc row fans out only to
   * the |pcts| prefix rows it belongs to. The prefix threshold rides a
   * broadcast 1-row max(doc_id); output is |pcts| rows.
   */
  def vocabGrowth(doc: DataFrame, pcts: Seq[Int] = Seq(10, 50, 100),
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val mx = broadcast(doc.agg(max(col(id)).as("max_id")))
    val pctCol = explode(lit(pcts.sorted.toArray)).as("pct")
    val firstDoc = doc
      .select(col(id).as("did"), explode(tokens(col(text))).as("tok"))
      .groupBy("tok").agg(min(col("did")).as("first_doc"))
    val vocabAt = firstDoc.crossJoin(mx).select(col("first_doc"),
        col("max_id"), pctCol)
      .filter(col("first_doc") * 100 <= col("max_id") * col("pct"))
      .groupBy("pct").agg(count(lit(1)).as("n_vocab"))
    val toksAt = doc
      .select(col(id).as("did"), size(tokens(col(text))).cast("long").as("n"))
      .crossJoin(mx).select(col("did"), col("n"), col("max_id"), pctCol)
      .filter(col("did") * 100 <= col("max_id") * col("pct"))
      .groupBy("pct").agg(sum(col("n")).as("n_tokens"))
    toksAt.join(vocabAt, Seq("pct"))
      .select(col("pct").cast("long").as("pct"), col("n_tokens"),
        col("n_vocab"))
  }

  /**
   * Zipf head coverage: the fraction of total token mass (ppm) covered
   * by the k most frequent tokens, for each k — the table that sizes a
   * tokenizer vocab or a stopword list off measured mass, not lore.
   *
   * Scale shape: the corpus-wide `groupBy(token).count` is the only
   * full shuffle; the head is then cut DISTRIBUTED via
   * `orderBy(...).limit(maxK)` (TakeOrderedAndProject — every map task
   * forwards at most maxK rows) and the rank window runs on that ≤maxK-
   * row relation, never on the full vocabulary. Total mass rides a
   * broadcast 1-row sum; ties break (count DESC, token ASC) so the head
   * set is engine-independent.
   */
  def zipfHeadCoverage(doc: DataFrame, ks: Seq[Int] = Seq(10, 100, 1000),
      text: String = "text"): DataFrame = {
    val counts = doc.select(explode(tokens(col(text))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val total = broadcast(counts.agg(sum(col("c")).as("total")))
    val head = counts.orderBy(col("c").desc, col("tok").asc)
      .limit(ks.max)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("tok").asc)))
    head.select(col("c"), col("rank"),
        explode(lit(ks.sorted.toArray)).as("k"))
      .filter(col("rank") <= col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_head"), sum(col("c")).as("covered"))
      .crossJoin(total)
      .select(col("k").cast("long").as("k"), col("n_head"), col("covered"),
        expr("(covered * 1000000) DIV total").as("coverage_q"))
  }

  /**
   * Per-language tokenizer fertility: subword-estimate tokens per
   * whitespace token (ppm) — the cost multiplier that prices a corpus
   * in MODEL tokens per language (fertility differences of 2-3× between
   * scripts dominate per-language training cost). One keyed aggregate
   * over [[tokenCounts]]' stateless projection; integer sums, one
   * quantized ratio.
   */
  def tokenFertility(doc: DataFrame, text: String = "text"): DataFrame =
    tokenCounts(doc, text)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_ws_tokens")).as("ws_tokens"),
        sum(col("n_bpe_est")).as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"),
        expr("(bpe_tokens * 1000000) DIV ws_tokens").as("fertility_q"))

  /** One row per adjacent token pair (t1, t2), keeping every non-text
    * column: explode the pair positions, then read both tokens with
    * `element_at` — a flat codegen projection, no array lambda (a
    * `zip_with` of two slices is CodegenFallback; see the dedup
    * shingle note in [[Dedup]] for why interpreted per-element lambdas
    * are banned from corpus-scan hot paths). */
  def bigramRows(doc: DataFrame, text: String = "text"): DataFrame =
    doc.withColumn("_tk", tokens(col(text)))
      .withColumn("_i",
        explode(when(size(col("_tk")) >= 2,
          sequence(lit(1), size(col("_tk")) - 1))
          .otherwise(array().cast("array<int>"))))
      .withColumn("t1", element_at(col("_tk"), col("_i")))
      .withColumn("t2", element_at(col("_tk"), col("_i") + 1))
      .drop("_tk", "_i", text)

  /**
   * TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) — the
   * graph-analytics member of the text family: vertices are tokens
   * whose total adjacency mass clears `minWout`, edges the
   * corpus-summed adjacent-token co-occurrence (symmetrized), scores a
   * damped weighted power iteration — PageRank's algebra on the word
   * graph, the keyword prior crawl pipelines rank salient terms with.
   *
   * Everything is fixed-point integer arithmetic so the oracle replays
   * every round bit-for-bit: scores carry ×10⁶; each edge contributes
   * `(r(u)·w(u,v)) DIV wout(u)` (per-edge truncation, same in both
   * engines); the damping blend is
   * `((100−d)·10⁶ + d·Σcontrib) DIV 100`. No float stochastic matrix.
   *
   * Scale shape: pair counting is [[bigramRows]]' doc-local position
   * explode into ONE map-side-combined groupBy (no self-join); the
   * graph is vocab²-bounded, tiny next to the corpus; each of the
   * `iters` rounds is one edge⋈ranks join + one keyed sum over that
   * bounded relation, with per-round `localCheckpoint` cutting lineage
   * (the [[Components]] iterative-DataFrame discipline — without it
   * Catalyst re-optimization goes exponential in rounds). Output is
   * TakeOrdered top-k.
   */
  def textRank(doc: DataFrame, iters: Int = 3, minWout: Int = 5,
      topK: Int = 20, dampPct: Int = 85,
      text: String = "text"): DataFrame =
    // The symmetrized table is materialized once — FromEdges reads it
    // from two consumers.
    textRankFromEdges(Reuse.shared(textRankEdges(doc, text)),
      iters, minWout, topK, dampPct)

  /** [[textRank]]'s word graph: the symmetrized adjacent-token
    * co-occurrence counts (src, dst, w), self-loops dropped. A COUNT
    * relation, so per-micro-batch edges merge by pure addition: the
    * form the streaming twin writes through
    * [[graft.stream.StreamingPipeline.partialsSink]]. */
  def textRankEdges(doc: DataFrame, text: String): DataFrame = {
    // ONE corpus explode: aggregate the DIRECTED pair counts first
    // (vocab²-bounded), then symmetrize by unioning the aggregated
    // table with its swap and re-summing — count(union of raw pair
    // rows) == sum(count) over each direction, and the second union
    // branch now reads the tiny aggregated relation instead of
    // re-exploding the corpus (r18: the raw-pair union made the
    // explode run twice inside one job).
    val aw = bigramRows(doc.select(col(text)), text)
      .filter(col("t1") =!= col("t2"))
      .groupBy(col("t1").as("src"), col("t2").as("dst"))
      .agg(count(lit(1)).as("w"))
    aw.union(aw.select(col("dst"), col("src"), col("w")))
      .groupBy("src", "dst").agg(sum("w").as("w"))
  }

  /** Vertex-count ceiling for textRank's broadcast iteration joins —
    * above it the per-iteration relations (keep/deg/ranks/cs, all
    * vocab-bounded) stop fitting driver/executor memory comfortably
    * (~50 B/token row ⇒ the 4M default is ~200 MB framed, far under
    * the 8 GB broadcast cap but already meaningful ×cores resident).
    * `-Dgraft.textrank.bcastMaxVerts` lowers it so a spec can reach the
    * non-broadcast fallback on a small corpus. */
  private[graft] def TextRankBcastMaxVerts: Long =
    sys.props.get("graft.textrank.bcastMaxVerts").map(_.toLong)
      .getOrElse(4000000L)

  /** [[textRank]]'s floor/iterate/rank tail over a PRE-COUNTED
    * symmetrized edge relation (src, dst, w) — the seam the streaming
    * twin derives through: per-batch partial edge counts merge by
    * addition, then this tail runs once on the merged graph.
    *
    * Scale contract (r19): the iteration joins broadcast the
    * vocab-bounded sides (keep/deg/ranks/cs) ONLY while the kept
    * vertex count — measured once off the materialized floor filter —
    * is ≤ [[TextRankBcastMaxVerts]]; a 100 TB token vocabulary can
    * exceed any broadcast budget, so above the ceiling the edge table
    * is instead hash-partitioned by src ONCE at checkpoint time (the
    * bridge re-declares that partitioning, which AQE hides on a
    * checkpoint) and every iteration shuffles only the vocab-bounded
    * rank relation — the same zero-edge-reshuffle effect with no driver
    * ceiling (guide §3.1 / §2.4). */
  def textRankFromEdges(all: DataFrame, iters: Int = 3, minWout: Int = 5,
      topK: Int = 20, dampPct: Int = 85): DataFrame = {
    // keep is consumed by BOTH endpoint filters — materialized once;
    // its count is the size signal the broadcast guard keys on (free
    // off the checkpoint).
    val keep = Reuse.shared(all.groupBy("src").agg(sum("w").as("w0"))
      .filter(col("w0") >= minWout).select("src"))
    val bcastOk = keep.count() <= TextRankBcastMaxVerts
    def bc(df: DataFrame): DataFrame = if (bcastOk) broadcast(df) else df
    val e2 = all.join(bc(keep), "src")
      .join(bc(keep.select(col("src").as("dst"))), "dst")
    val deg = e2.groupBy("src").agg(sum("w").as("wout"))
    val ewBase = e2.join(bc(deg), "src")
      .select("src", "dst", "w", "wout")
    // Non-broadcast fallback: pin the src partitioning into the
    // checkpoint so the per-iteration rank join re-shuffles ranks
    // (vocab-bounded), never the vocab²-bounded edge relation.
    val ew =
      if (bcastOk) Reuse.shared(ewBase)
      else org.apache.spark.sql.graftbridge.SqlBridge
        .hashPartitionedCheckpoint(ewBase, "src")(Reuse.shared)
    var ranks = Reuse.pin(
      deg.select(col("src").as("v"), lit(1000000L).as("r"))
        .localCheckpoint(true))
    for (_ <- 1 to iters) {
      // ranks and the contribution sums are vocab-bounded (tiny next
      // to the vocab²-bounded edge table) — broadcast them while the
      // guard holds so the checkpointed edge relation is never
      // re-shuffled per iteration (r18; guide §3.1)
      val cs = ew.join(bc(ranks), col("src") === col("v"))
        .select(col("dst"), expr("(r * w) DIV wout").as("c"))
        .groupBy("dst").agg(sum("c").as("cs"))
      ranks = Reuse.pin(ranks.select(col("v"))
        .join(bc(cs), col("v") === col("dst"), "left")
        .select(col("v"),
          expr(s"(${100 - dampPct} * 1000000 + " +
            s"$dampPct * coalesce(cs, 0)) DIV 100").as("r"))
        .localCheckpoint(true))
    }
    ranks.orderBy(col("r").desc, col("v").asc).limit(topK)
      .select(col("v").as("token"), col("r").as("rank_q6"))
  }

  /**
   * Corpus bigram language-model statistics: count of every adjacent
   * token pair plus the quantized conditional probability
   * `p_q = floor(1e6 * c(t1,t2) / c(t1,·))` — division-portable like
   * [[tfidfTopK]]'s idf. Returns the top `k` bigrams by
   * (count DESC, t1 ASC, t2 ASC) — a total order, so the cut is exact.
   *
   * Scale shape: pair counting is one map-side-combined shuffle (the
   * pairs are built doc-locally by [[bigramRows]]' position explode —
   * no self-join, no window); the prefix totals aggregate the
   * vocab²-bounded pair relation, not the corpus; the global top-k plans
   * as TakeOrderedAndProject (per-partition heap + driver merge of k
   * rows, no global sort).
   */
  def bigramStats(doc: DataFrame, k: Int = 200,
      text: String = "text"): DataFrame = {
    // Pair counts feed both the prefix totals and the probability join.
    val pairs = Reuse.shared(
      bigramRows(doc.select(col(text)), text)
        .select("t1", "t2")
        .groupBy("t1", "t2").agg(count(lit(1)).as("c")))
    val prefix = pairs.groupBy("t1").agg(sum("c").as("ct"))
    pairs.join(prefix, "t1")
      .select(col("t1"), col("t2"), col("c"),
        floor(lit(1000000.0d) *
          (col("c").cast("double") / col("ct").cast("double")))
          .cast("long").as("p_q"))
      .orderBy(col("c").desc, col("t1").asc, col("t2").asc)
      .limit(k)
  }

  /**
   * PMI collocations — the SYMMETRIC association measure the bigram
   * family lacks ([[bigramStats]] ranks by raw count and conditional
   * probability, which surface "of the"; PMI surfaces the pairs that
   * co-occur far above chance — the multiword-expression / named-entity
   * prior corpus linguists and tokenizer curriculum builders rank by).
   * pmi = log₂(p(ab) / (p(a)·p(b))) over unigram/bigram relative
   * frequencies, integerized the repo way: `ratio_ppm = (c_ab · Nu² ·
   * 10⁶) DIV (Nb · c_a · c_b)` with the numerator in decimal(38,0)/
   * HUGEINT (c·Nu²·10⁶ passes int64 at ~10⁸ tokens — same ext152
   * lesson), `pmi_oct = bitlen(max(ratio_ppm, 1)) − 20` (ratio 1 ↦ 0,
   * the debiased octave). `minCount` floors c_ab (the collocation
   * convention — PMI is degenerate on hapax pairs: c=1 pairs of c=1
   * words maximize it by definition), and the card is the top-k head
   * by (ratio_ppm DESC, t1, t2) — a deterministic total order.
   *
   * Scale shape: one doc-local bigram explode into two map-side-
   * combined groupBys (pair + unigram counts, both vocab-bounded), two
   * 1-row totals on broadcast envelopes, the unigram joins keyed on a
   * vocab-bounded side, and a TakeOrdered head — k rows reach the
   * driver.
   */
  def pmiCollocations(doc: DataFrame, k: Int = 100,
      minCount: Long = 5L, text: String = "text"): DataFrame = {
    val uni = Reuse.shared(doc
      .select(explode(tokens(col(text))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu")))
    val nu = uni.agg(sum("cu").as("nu"))
    // one bigram explode total: Nb is the pre-prune count mass of the
    // SAME vocab-bounded pair relation the scored pairs filter from
    val pairsAll = Reuse.shared(bigramRows(doc.select(col(text)), text)
      .groupBy("t1", "t2").agg(count(lit(1)).as("c")))
    val nb = pairsAll.agg(sum("c").as("nb"))
    val pairs = pairsAll.filter(col("c") >= minCount)
    pairs
      .join(uni.select(col("t").as("t1"), col("cu").as("ca")), Seq("t1"))
      .join(uni.select(col("t").as("t2"), col("cu").as("cb")), Seq("t2"))
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .withColumn("ratio_ppm", expr(
        "cast(c as decimal(38,0)) * nu * nu * 1000000" +
          " div (cast(nb as decimal(38,0)) * ca * cb)"))
      .withColumn("pmi_oct",
        length(expr("bin(greatest(ratio_ppm, 1))")).cast("long") - 20L)
      .select(col("t1"), col("t2"), col("c").as("c_ab"), col("ca"),
        col("cb"), col("ratio_ppm"), col("pmi_oct"))
      .orderBy(col("ratio_ppm").desc, col("t1").asc, col("t2").asc)
      .limit(k)
  }

  /**
   * Token frequency-of-frequencies spectrum — N_r = how many types
   * occur exactly r times, for r ≤ `maxR`, plus one tail row (r = −1)
   * folding everything above: the relation Good–Turing smoothing, OOV
   * mass estimation (N₁/N is the leave-one-out unseen-mass estimate)
   * and vocab-size planning read. Each row carries the exact type
   * count, its token mass r·N_r, and the Good–Turing adjusted count
   * `gt_rstar_ppm = ((r+1)·N_{r+1}·10⁶) DIV N_r` (0 where N_{r+1} is
   * absent — heads of real spectra are dense so the zeros land in the
   * tail, where GT isn't used anyway). All int64, all-non-negative.
   *
   * Scale shape: two map-side-combined groupBys (token → count, count
   * → class) — the second over the vocab-bounded count table; the
   * card is ≤ maxR+1 rows joined to itself on r+1. Streaming is
   * EXCLUDED by design: type counts must be GLOBAL before classing
   * (per-shard spectra are not addition partials — a type seen once
   * in each of two batches is N₂ mass, not 2×N₁), so this is a
   * per-corpus-snapshot audit, the ext68 boundary.
   */
  def freqSpectrum(doc: DataFrame, maxR: Long = 10L,
      text: String = "text"): DataFrame = {
    val counts = doc.select(explode(tokens(col(text))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val classes = Reuse.shared(counts
      .withColumn("r", when(col("c") <= maxR, col("c")).otherwise(-1L))
      .groupBy("r").agg(count(lit(1)).as("n_types"),
        sum("c").as("token_mass")))
    classes
      .join(classes.select((col("r") - 1).as("r"),
        col("n_types").as("n_next")), Seq("r"), "left")
      .select(col("r"), col("n_types"), col("token_mass"),
        when(col("r") > 0L && col("n_next").isNotNull,
          expr("((r + 1) * n_next * 1000000) DIV n_types"))
          .otherwise(lit(0L)).as("gt_rstar_ppm"))
  }

  /**
   * Token↔label association audit (ext167) — count-weighted PMI
   * between token PRESENCE and a label column: the shortcut/label-
   * leakage detector (a token whose presence predicts a label too
   * strongly is a classifier shortcut, a template artifact, or a
   * straight-up leaked label string — the thing to find BEFORE
   * training). ext160's machinery pointed at labels instead of
   * neighboring tokens; per (token, label):
   *   ratio_ppm = (a·N·10⁶) DIV (n_tok·n_lab)   — P(tok,lab)/(P·P)
   *   pmi_oct   = bitlen(ratio_ppm) − 20         — the octave log
   * with a = distinct docs containing the token under the label,
   * n_tok/n_lab the marginal presence counts, N = corpus docs; a
   * `minCount` floor kills hapax cells (PMI is degenerate there —
   * the ext160 rule), top-k by the deterministic (ratio, token,
   * label) order. decimal(38,0) keeps a·N·10⁶ exact to ~10¹² docs.
   *
   * Scale shape: ONE distinct (doc, token, label) explode (the
   * per-doc presence relation — map-side combined), then every
   * aggregate and join runs over the vocab×|labels|-bounded cell
   * table; N is a broadcast scalar; the head is TakeOrdered.
   */
  def labelAssociation(doc: DataFrame, label: Column, k: Int = 50,
      minCount: Long = 5L, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val pres = Reuse.shared(doc
      .select(col(id).as("_id"), label.as("label"),
        explode(tokens(col(text))).as("token"))
      .distinct())
    val cells = pres.groupBy("token", "label")
      .agg(count(lit(1)).as("a"))
      .filter(col("a") >= minCount)
    // marginals are DOC counts: n_tok = docs containing the token (one
    // pres row per (doc, token) — a doc has one label), n_lab = docs
    // carrying the label (from the doc table, NOT the pres explode —
    // counting pres rows would weight each doc by its distinct-token
    // count and silently deflate every ratio)
    val tokTot = pres.groupBy("token").agg(count(lit(1)).as("n_tok"))
    val labTot = doc.groupBy(label.as("label"))
      .agg(count(lit(1)).as("n_lab"))
    // n_tok above counts (doc, label, token) presence rows, which
    // equals docs-containing-token ONLY when each doc carries exactly
    // one label — multi-label/dirty data would silently inflate n_tok
    // and deflate every ratio (r14 ADVICE). Guard it inside the same
    // one-row aggregate the card already pays for: raise loudly when
    // any doc_id spans more than one distinct NON-NULL label (both
    // countDistincts skip null labels, so null-label docs keep their
    // long-standing tolerated behavior instead of tripping the guard
    // with a nonsensical negative count).
    val n = doc
      .agg(count(lit(1)).as("n"),
        countDistinct(when(label.isNotNull, col(id))).as("_nd"),
        countDistinct(col(id), label).as("_ndl"))
      .select(when(col("_nd") === col("_ndl"), col("n"))
        .otherwise(raise_error(concat(
          lit("labelAssociation requires one label per doc; "),
          (col("_ndl") - col("_nd")).cast("string"),
          lit(" extra (doc,label) pairs found")))).as("n"))
    cells
      .join(tokTot, Seq("token"))
      .join(broadcast(labTot), Seq("label"))
      .crossJoin(broadcast(n))
      .withColumn("ratio_ppm", expr(
        "CAST(cast(a as decimal(38,0)) * n * 1000000" +
          " DIV (cast(n_tok as decimal(38,0)) * n_lab) AS BIGINT)"))
      .withColumn("pmi_oct",
        length(expr("bin(greatest(ratio_ppm, 1))")).cast("long") - 20L)
      .select(col("token"), col("label"), col("a"), col("n_tok"),
        col("n_lab"), col("ratio_ppm"), col("pmi_oct"))
      .orderBy(col("ratio_ppm").desc, col("token"), col("label"))
      .limit(k)
  }

  /** Per-batch partials for the [[labelAssociation]] streaming twin:
    * ONE tagged relation (the mooreLewis one-table discipline) —
    * `cell` rows are (token, label, c) presence counts, `doc` rows
    * (token = '', label, c) carry the per-label doc counts. Every
    * marginal the card needs folds from it by pure addition (docs
    * arrive whole, so presence is batch-decomposable): n_tok =
    * Σ_labels cell(token, ·), n_lab = doc(label), N = Σ doc rows. */
  def labelAssocPartials(doc: DataFrame, label: Column,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val pres = doc
      .select(col(id).as("_id"), label.as("label"),
        explode(tokens(col(text))).as("token"))
      .distinct()
    pres.groupBy("token", "label").agg(count(lit(1)).as("c"))
      .select(lit("cell").as("kind"), col("token"), col("label"),
        col("c"))
      .unionByName(doc.groupBy(label.as("label"))
        .agg(count(lit(1)).as("c"))
        .select(lit("doc").as("kind"), lit("").as("token"),
          col("label"), col("c")))
  }

  /** [[labelAssociation]] from a (possibly unfolded) tagged partials
    * relation — duplicate (kind, token, label) rows re-sum first (the
    * batching law), then the identical ratio/octave/top-k pipeline. */
  def labelAssociationFromCounts(counts: DataFrame, k: Int = 50,
      minCount: Long = 5L): DataFrame = {
    val folded = Reuse.shared(counts.groupBy("kind", "token", "label")
      .agg(sum("c").as("c")))
    val cellRows = folded.filter(col("kind") === "cell")
    val cells = cellRows.select(col("token"), col("label"),
        col("c").as("a"))
      .filter(col("a") >= minCount)
    val tokTot = cellRows.groupBy("token").agg(sum("c").as("n_tok"))
    val labTot = folded.filter(col("kind") === "doc")
      .select(col("label"), col("c").as("n_lab"))
    val n = labTot.agg(sum("n_lab").as("n"))
    cells
      .join(tokTot, Seq("token"))
      .join(broadcast(labTot), Seq("label"))
      .crossJoin(broadcast(n))
      .withColumn("ratio_ppm", expr(
        "CAST(cast(a as decimal(38,0)) * n * 1000000" +
          " DIV (cast(n_tok as decimal(38,0)) * n_lab) AS BIGINT)"))
      .withColumn("pmi_oct",
        length(expr("bin(greatest(ratio_ppm, 1))")).cast("long") - 20L)
      .select(col("token"), col("label"), col("a"), col("n_tok"),
        col("n_lab"), col("ratio_ppm"), col("pmi_oct"))
      .orderBy(col("ratio_ppm").desc, col("token"), col("label"))
      .limit(k)
  }

  /**
   * BM25 lexical retrieval (ext165) — the classical sparse ranker
   * (Robertson/Okapi, k1 = 1.2, b = 0.75), integerized for
   * cross-engine determinism, completing the retrieval family: the
   * embedding queries (ext05/06/07) rank dense, ext143's RRF fuses
   * rankings, THIS is the lexical leg hybrid search fuses against.
   *
   * Integer form, all non-negative (trunc DIV == floor):
   *  - idf_ppm = ((2N+2)·10⁶) DIV (2·df+1) — the +1-smoothed Robertson
   *    odds ratio (N−df+½)/(df+½)+1 = (N+1)/(df+½) itself, in ppm.
   *    The classical idf takes its log; a log is a libm call whose
   *    last ulp differs across engines (the ext41/ext148 boundary), so
   *    the monotone ratio stands in — per-term ranking is unchanged,
   *    multi-term mixing weights rare terms more sharply than log-idf
   *    (documented variant, not an approximation error).
   *  - tf part: rel_milli = dl·10⁶ DIV avgdl_milli;
   *    den_milli = tf·1000 + (1200·(250 + (750·rel_milli) DIV 1000))
   *    DIV 1000 — i.e. tf + k1·(1−b+b·dl/avgdl) in millis;
   *    tfpart_ppm = tf·2200000 DIV den_milli — tf·(k1+1)/den in ppm.
   *  - score = Σ_t idf_ppm·tfpart_ppm DIV 10⁶, accumulated in
   *    decimal(38,0) (idf_ppm alone reaches 2·10⁶·N at df=1 — the
   *    ext152 overflow lesson).
   *
   * Scale shape: the corpus explode filters to the query's terms
   * BEFORE the shuffle (hits relation ~ docs containing a term), df is
   * a count-distinct over that same relation, global (N, avgdl) is a
   * broadcast one-row aggregate, and the head is TakeOrderedAndProject
   * (no global sort). Ties rank by doc_id for determinism.
   */
  def bm25TopK(doc: DataFrame, queryTerms: Seq[String], k: Int = 10,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val d = Reuse.shared(doc.select(col(id).cast("long").as("_id"),
      tokens(col(text)).as("_toks")))
    val stats = d
      .agg(count(lit(1)).as("n"),
        sum(size(col("_toks")).cast("long")).as("mass"))
      .select(col("n"),
        expr("CAST(mass * 1000 DIV n AS BIGINT)").as("avgdl_milli"))
    val hits = Reuse.shared(d
      .select(col("_id"), size(col("_toks")).cast("long").as("_dl"),
        explode(col("_toks")).as("_t"))
      .filter(col("_t").isin(queryTerms: _*))
      .groupBy("_id", "_dl", "_t").agg(count(lit(1)).as("tf")))
    val dfRel = hits.groupBy("_t")
      .agg(countDistinct(col("_id")).as("df"))
    bm25Scored(hits.join(dfRel, Seq("_t")).crossJoin(broadcast(stats)))
      .groupBy("_id")
      .agg(bm25ScoreSum.as("score"))
      .select(col("_id").as(id), col("score"))
      .orderBy(col("score").desc, col(id))
      .limit(k)
  }

  /** The shared integer BM25 scoring columns — expects (tf, _dl, df,
    * n, avgdl_milli) on the row; see [[bm25TopK]] for the algebra. */
  private def bm25Scored(rows: DataFrame): DataFrame = rows
    .withColumn("idf_ppm",
      expr("CAST((2 * CAST(n AS DECIMAL(38,0)) + 2) * 1000000" +
        " DIV (2 * df + 1) AS BIGINT)"))
    .withColumn("rel_milli", expr("_dl * 1000000 DIV avgdl_milli"))
    .withColumn("den_milli", expr(
      "tf * 1000 + (1200 * (250 + (750 * rel_milli) DIV 1000)) DIV 1000"))
    .withColumn("tfpart_ppm", expr("tf * 2200000 DIV den_milli"))

  private val bm25ScoreSum =
    expr("CAST(sum(CAST(idf_ppm AS DECIMAL(38,0)) * tfpart_ppm)" +
      " DIV 1000000 AS BIGINT)")

  /** The tf-bearing POSTING relation of a serving inverted index
    * (term, doc_id, tf, dl) — ext40's index summarizes postings for
    * review; this is the full relation BM25 serves from. Under
    * whole-doc arrival each micro-batch's postings are disjoint rows
    * (a pure append partial): the stored fold IS the incremental
    * inverted index a continuously-crawled corpus maintains. */
  def bm25IndexPartials(doc: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame =
    doc.select(col(id).cast("long").as("doc_id"),
        size(tokens(col(text))).cast("long").as("dl"),
        explode(tokens(col(text))).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))

  /**
   * Serve-time BM25 from the STORED index — the 100 TB shape: the
   * corpus text is never rescanned; df/N/avgdl derive from the posting
   * relation itself (df = postings per term, N/mass from the distinct
   * (doc_id, dl) projection — every doc has ≥ 1 posting, `tokens` is
   * total), and only the query terms' posting lists are read (a
   * term-keyed filter a term-partitioned store turns into partition
   * pruning). Law: identical to [[bm25TopK]] recomputed from text —
   * spec-asserted, plus the streamed incremental-index twin.
   */
  def bm25FromIndex(index: DataFrame, queryTerms: Seq[String],
      k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val idx = Reuse.shared(index.select("term", "doc_id", "dl", "tf"))
    val docStats = idx.select("doc_id", "dl").distinct()
    val stats = docStats.agg(count(lit(1)).as("n"),
        sum("dl").as("mass"))
      .select(col("n"),
        expr("CAST(mass * 1000 DIV n AS BIGINT)").as("avgdl_milli"))
    val hits = Reuse.shared(
      idx.filter(col("term").isin(queryTerms: _*))
        .select(col("term").as("_t"), col("doc_id").as("_id"),
          col("dl").as("_dl"), col("tf")))
    val dfRel = hits.groupBy("_t").agg(count(lit(1)).as("df"))
    bm25Scored(hits.join(dfRel, Seq("_t")).crossJoin(broadcast(stats)))
      .groupBy("_id")
      .agg(bm25ScoreSum.as("score"))
      .select(col("_id").as("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /**
   * Per-query BM25 served ENTIRELY from the stored posting index —
   * the serve-time twin of [[bm25PerQuery]] (r14 verdict item 2): the
   * query documents are corpus members, so their query terms ARE
   * their posting rows (distinct (term, doc_id) for the query ids —
   * a keyed filter of the index, partition-pruned when the store is
   * term-partitioned... the q_id filter prunes on doc_id, so a serve
   * store keeps BOTH projections: this reads the same one relation),
   * df/N/avgdl derive from the posting relation as in
   * [[bm25FromIndex]], and corpus TEXT is never rescanned on this
   * leg. Law: identical to [[bm25PerQuery]] on the text snapshot the
   * index was built from — spec-asserted.
   *
   * Scale shape: unchanged from [[bm25PerQuery]] — hits = the query
   * vocabulary's posting lists (LEFT-SEMI against the broadcast
   * vocab before any shuffle), per-query fan-out joins the small qt
   * relation onto hits, window rank ≤ k.
   */
  def bm25PerQueryFromIndex(index: DataFrame, qIds: Seq[Long],
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qIds.nonEmpty, "bm25 needs at least one query doc")
    val idx = Reuse.shared(index.select("term", "doc_id", "dl", "tf"))
    val docStats = idx.select("doc_id", "dl").distinct()
    val stats = docStats.agg(count(lit(1)).as("n"),
        sum("dl").as("mass"))
      .select(col("n"),
        expr("CAST(mass * 1000 DIV n AS BIGINT)").as("avgdl_milli"))
    val qt = idx.filter(col("doc_id").isin(qIds: _*))
      .select(col("doc_id").as("q_id"), col("term").as("_t"))
      .distinct()
    val hits = Reuse.shared(idx
      .select(col("term").as("_t"), col("doc_id").as("_id"),
        col("dl").as("_dl"), col("tf"))
      .join(broadcast(qt.select("_t").distinct()), Seq("_t"),
        "left_semi"))
    val dfRel = hits.groupBy("_t").agg(count(lit(1)).as("df"))
    // dfRel is query-vocab-bounded — broadcast it so the hits table
    // is never re-shuffled by _t; the single exchange below hashes by
    // q_id alone, which BOTH the candidate aggregate and the ranking
    // window accept (ClusteredDistribution on a key subset), so the
    // old groupBy(q_id, _id) + window(q_id) exchange pair collapses
    // to one (r18; guide §2.4)
    val scored = bm25Scored(hits.join(broadcast(dfRel), Seq("_t"))
      .join(broadcast(qt), Seq("_t"))
      .filter(col("_id") =!= col("q_id"))
      .crossJoin(broadcast(stats)))
      .repartition(col("q_id"))
      .groupBy("q_id", "_id")
      .agg(bm25ScoreSum.as("score"))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("_id").as("t_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  /**
   * Per-query BM25 ("more-like-this", the lexical leg of hybrid
   * search, ext169): each query DOCUMENT's distinct tokens are its
   * query terms; every corpus doc containing any of them scores by
   * the same integer pipeline as [[bm25TopK]], ranked top-k per
   * query as (q_id, t_id, rank) — the relation [[Similarity.rrfFuse]]
   * consumes, so lexical and dense rankings fuse without score
   * calibration. Self-matches are excluded (the dense leg's
   * convention).
   *
   * Scale shape: the corpus explode LEFT-SEMI joins the broadcast
   * query vocabulary before the shuffle (hits ~ union of the queries'
   * posting lists); the per-query fan-out joins the small qt relation
   * onto the hits table, never the corpus; ranking is a window over
   * per-query candidates with row_number ≤ k.
   */
  def bm25PerQuery(doc: DataFrame, queries: DataFrame, k: Int = 10,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Only `hits` is worth materializing: d and qt are scan
    // projections a recompute re-derives for less than a checkpoint
    // costs (measured warm at sf0.1: one-shared ~3.4 s ≈ recompute
    // 3.1 s — the dominant cost is the scoring fan-out, not
    // materialization; Reuse.shared is for relations whose RECOMPUTE
    // is the expensive thing, not every multi-consumer).
    val d = doc.select(col(id).cast("long").as("_id"),
      tokens(col(text)).as("_toks"))
    val stats = d
      .agg(count(lit(1)).as("n"),
        sum(size(col("_toks")).cast("long")).as("mass"))
      .select(col("n"),
        expr("CAST(mass * 1000 DIV n AS BIGINT)").as("avgdl_milli"))
    val qt = queries
      .select(col(id).cast("long").as("q_id"),
        explode(tokens(col(text))).as("_t"))
      .distinct()
    val hits = Reuse.shared(d
      .select(col("_id"), size(col("_toks")).cast("long").as("_dl"),
        explode(col("_toks")).as("_t"))
      .join(broadcast(qt.select("_t").distinct()), Seq("_t"),
        "left_semi")
      .groupBy("_id", "_dl", "_t").agg(count(lit(1)).as("tf")))
    val dfRel = hits.groupBy("_t")
      .agg(countDistinct(col("_id")).as("df"))
    // dfRel is query-vocab-bounded — broadcast it so the hits table
    // is never re-shuffled by _t; the single exchange below hashes by
    // q_id alone, which BOTH the candidate aggregate and the ranking
    // window accept (ClusteredDistribution on a key subset), so the
    // old groupBy(q_id, _id) + window(q_id) exchange pair collapses
    // to one (r18; guide §2.4)
    val scored = bm25Scored(hits.join(broadcast(dfRel), Seq("_t"))
      .join(broadcast(qt), Seq("_t"))
      .filter(col("_id") =!= col("q_id"))
      .crossJoin(broadcast(stats)))
      .repartition(col("q_id"))
      .groupBy("q_id", "_id")
      .agg(bm25ScoreSum.as("score"))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("_id").as("t_id"),
        col("rank").cast("long").as("rank"), col("score"))
  }

  /**
   * Bigram-LM fluency scoring — the LM-based quality filter of a
   * pretraining pipeline (CCNet-shape), integerized for cross-engine
   * determinism: build the corpus bigram LM (`p_q = floor(1e6 *
   * c(t1,t2) / c(t1,·))`, as [[bigramStats]]), then score each doc by
   * the floor-mean quantized conditional probability of its adjacent
   * token pairs (`lm_q = sum(p_q) DIV n_bigrams`, exact int64). A true
   * perplexity exponentiates log-probs; `log` is a libm call whose last
   * ulp differs across engines, while the mean quantized probability is
   * the same monotone fluency signal with none of that risk. Docs with
   * < 2 tokens carry `n_bigrams = 0, lm_q = 0`. `fluent` flags docs at
   * or above `threshold` (quantized prob units, 1e6 = certainty).
   *
   * Scale shape: the LM build is one keyed shuffle on (t1, t2) + one on
   * t1 over the vocab²-bounded pair relation; doc scoring re-joins the
   * doc bigrams (built doc-locally, no self-join) against the LM on
   * (t1, t2) — co-keyed equi-join; truncate the LM to a top-M vocab at
   * 100 TB and it broadcasts — then one groupBy(doc) mean.
   */
  def lmQuality(doc: DataFrame, id: String = "doc_id",
      text: String = "text", threshold: Long = 34500L): DataFrame = {
    // Doc bigrams feed the LM build AND the scoring join.
    val bg = Reuse.shared(bigramRows(doc.select(col(id), col(text)), text))
    val lm = bg.groupBy("t1", "t2").agg(count(lit(1)).as("c"))
    val prefix = lm.groupBy("t1").agg(sum("c").as("ct"))
    val lmq = lm.join(prefix, "t1")
      .select(col("t1"), col("t2"),
        floor(lit(1000000.0d) *
          (col("c").cast("double") / col("ct").cast("double")))
          .cast("long").as("p_q"))
    // Every doc bigram is in the self-built LM, so the inner join keeps
    // exactly n_bigrams rows per doc (an external LM would left-join
    // with a smoothing floor instead).
    val scored = bg.join(lmq, Seq("t1", "t2"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"), sum("p_q").as("sum_pq"))
    doc.select(col(id))
      .join(scored, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(expr("sum_pq DIV n_bigrams"), lit(0L)).as("lm_q"))
      .withColumn("fluent", (col("lm_q") >= threshold).cast("long"))
  }

  /**
   * Stupid-backoff bigram LM document scoring (Brants et al., EMNLP
   * 2007, "Large Language Models in Machine Translation") — the
   * count-based analog of CCNet's KenLM perplexity filter, built from
   * the corpus itself: S(w₂|w₁) = c(w₁w₂)/c(w₁) when the PRUNED LM
   * keeps the bigram (count ≥ `minCount`), else α·c(w₂)/N with the
   * paper's α = 0.4. A document's score is Σ over positions of the
   * OCTAVE of the ppm-scaled S — `bitlen(ppm) − 21`, the ext134
   * debiased bit-length idiom — i.e. an integer log₂-likelihood
   * (negated ≈ log-perplexity), order-independent, mergeable, and
   * replayed bit-for-bit by the oracle. Pruning is what ARMS the
   * backoff: an LM trained and applied on the same corpus covers every
   * bigram (the [[lmQuality]] inner-join property), so without the
   * `minCount` floor the backoff branch would be dead code; with it,
   * documents built of rare transitions pay the unigram penalty —
   * exactly the perplexity-filter signal.
   *
   * Scale shape: the pruned LM (vocab²-bounded, then pruned) and the
   * unigram table (vocab-bounded) build in two map-side-combined
   * groupBys; scoring is the doc-local bigram relation equi-joined
   * once on (t1, t2) against the pruned LM and twice against the
   * unigram table — three keyed joins of corpus-positions against
   * vocab-bounded sides (none broadcast-hinted; at 100 TB a top-M
   * truncated LM broadcasts, same as [[lmQuality]] documents), the
   * 1-row total rides a broadcast envelope, and the per-doc sum
   * collapses map-side.
   */
  def stupidBackoffScores(doc: DataFrame, minCount: Long = 2L,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val bg = Reuse.shared(bigramRows(doc.select(col(id), col(text)), text))
    val bi = bg.groupBy("t1", "t2").agg(count(lit(1)).as("cb"))
    val uni = doc.select(explode(tokens(col(text))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cu"))
    stupidBackoffScoresFrom(doc, bi, uni, minCount, id, text,
      docBigrams = Some(bg))
  }

  /**
   * [[stupidBackoffScores]]' scoring tail over PRE-AGGREGATED count
   * relations — the stored-LM seam: `bi` (t1, t2, cb) UNPRUNED bigram
   * counts and `uni` (t, cu) unigram counts are pure-addition partials
   * (per-shard or per-micro-batch counts merge by summing — the
   * streaming `lmPartialsSink` accumulates exactly these), and the
   * `minCount` prune applies AFTER the merge, where it must (a bigram
   * seen once in each of three batches is count 3, kept). Scoring any
   * corpus snapshot against the merged artifact reproduces the batch
   * operator exactly when the artifact was counted from that corpus.
   */
  def stupidBackoffScoresFrom(doc: DataFrame, bi: DataFrame,
      uni0: DataFrame, minCount: Long = 2L,
      id: String = "doc_id", text: String = "text",
      docBigrams: Option[DataFrame] = None): DataFrame = {
    require(minCount >= 2L,
      "minCount < 2 keeps every self-corpus bigram and the backoff " +
        "branch is dead code")
    val bg = docBigrams.getOrElse(
      Reuse.shared(bigramRows(doc.select(col(id), col(text)), text)))
    val lm = bi.filter(col("cb") >= minCount)
    val uni = Reuse.shared(uni0)
    val tot = uni.agg(sum("cu").as("n_total"))
    // Unigram joins are LEFT: scoring a snapshot newer than the counted
    // corpus meets tokens absent from the stored LM, and an inner join
    // would silently drop those positions from n_bigrams, pushing
    // unseen-vocab docs toward a neutral 0 instead of penalizing them.
    // A missing unigram scores the OOV floor (ppm 1 via the octave's
    // greatest(ppm, 1) — the maximum per-position penalty, oct = −20).
    val scored = bg
      .join(lm, Seq("t1", "t2"), "left")
      .join(uni.select(col("t").as("t1"), col("cu").as("cu1")),
        Seq("t1"), "left")
      .join(uni.select(col("t").as("t2"), col("cu").as("cu2")),
        Seq("t2"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("ppm",
        when(col("cb").isNotNull && col("cu1").isNotNull,
          expr("(1000000 * cb) DIV cu1"))
          .otherwise(expr("(400000 * coalesce(cu2, 0)) DIV n_total")))
      .withColumn("oct",
        length(expr("bin(greatest(ppm, 1))")).cast("long") - 21L)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cb").isNull, 1L).otherwise(0L)).as("n_backoff"),
        sum("oct").as("lm_log2q"))
    doc.select(col(id)).join(scored, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("lm_log2q"), lit(0L)).as("lm_log2q"))
  }

  /**
   * CCNet perplexity buckets (Wenzek et al., LREC 2020) — the
   * head/middle/tail split CCNet ships per language: documents are
   * ranked per language by length-normalized LM penalty and cut into
   * terciles; "head" trains high-quality models, "tail" is the
   * candidate-for-drop stratum. Here the LM is [[stupidBackoffScores]]
   * (the engine's KenLM analog) and the per-position penalty is the
   * NEGATED octave sum ×1000 DIV n_bigrams — every per-position octave
   * is ≤ −1, so the negation is ≥ 1000 m‰ and strictly positive:
   * integer DIV never sees a sign (the trunc-vs-floor portability
   * rule). Docs with zero bigrams cannot be ranked and land in an
   * explicit "unscored" bucket (CCNet drops them; an explicit bucket
   * keeps the card total == corpus). Bucket cut: rank terciles
   * `((rk−1)·3) DIV n` over (penalty ASC, doc_id ASC) — deterministic
   * total order, so the cut replays bit-for-bit cross-engine.
   *
   * Scale shape: scoring is [[stupidBackoffScores]]' shape (corpus
   * bigrams against vocab-bounded tables); the rank is one per-lang
   * sort of the |docs|-row score card — the exact-rank price ext116
   * documents (the at-scale alternative is bucketing by the ext56
   * histogram of penalties).
   */
  def ccnetBuckets(doc: DataFrame, minCount: Long = 2L,
      id: String = "doc_id", lang: String = "lang",
      text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = stupidBackoffScores(doc, minCount, id, text)
    // NOT materialized (r19, measured): the two output branches'
    // subtrees are identical up to here, so ReuseExchange already
    // dedupes the scoring pipeline under the union — a checkpoint
    // only added a blocking write (A/B 2.43 → 2.53 s at sf0.1).
    val withLang = doc.select(col(id), col(lang)).join(scores, Seq(id))
    val scored = withLang.filter(col("n_bigrams") > 0L)
      .withColumn("penalty_mppm",
        expr("((0 - lm_log2q) * 1000) DIV n_bigrams"))
    val byLang = Window.partitionBy(col(lang))
    val ranked = scored
      .withColumn("rk", row_number().over(
        byLang.orderBy(col("penalty_mppm"), col(id))).cast("long"))
      .withColumn("n", count(lit(1)).over(byLang))
      .withColumn("bucket", element_at(
        array(lit("head"), lit("middle"), lit("tail")),
        (expr("((rk - 1) * 3) DIV n") + 1L).cast("int")))
      .select(col(id), col(lang), col("n_bigrams"),
        col("penalty_mppm"), col("bucket"))
    val unscored = withLang.filter(col("n_bigrams") === 0L)
      .select(col(id), col(lang), col("n_bigrams"),
        lit(0L).as("penalty_mppm"), lit("unscored").as("bucket"))
    ranked.unionByName(unscored)
  }

  /**
   * Moore–Lewis contrastive data selection (Moore & Lewis, ACL 2010,
   * "Intelligent Selection of Language Model Training Data") — THE
   * classical cross-entropy-difference selector: score every document
   * under an IN-DOMAIN LM and under the GENERAL-corpus LM, keep the
   * ones the in-domain model likes better. Here both LMs are the
   * [[stupidBackoffScores]] count models (pruned bigram + unigram
   * backoff), the in-domain one counted from the `inDomain` subset of
   * the same corpus, and a document's gain is the integer difference
   * of its two octave log-likelihoods — `gain_oct =
   * lm_in − lm_gen ≈ log₂ P_in(doc) − log₂ P_gen(doc)`. `selected` is
   * the sign (gain ≥ 0); per-length normalization is deliberately NOT
   * divided here (a negative integer division truncates toward zero in
   * Spark but floors in other engines — the consumer ranks by
   * (gain_oct, n_bigrams) instead, both exact int64).
   *
   * Scale shape: ONE corpus bigram explode ([[bigramRows]], doc-local,
   * flag riding along) feeds all four count tables as map-side-combined
   * groupBys (the in-domain ones over the flagged subset — a second
   * SCAN never happens); scoring is [[stupidBackoffScoresFrom]] twice
   * over the SAME shared bigram relation — joins keyed on (t1, t2) /
   * t against vocab-bounded sides — then one id-keyed join of the two
   * per-doc cards. Nothing broadcast-hinted except the 1-row totals;
   * at 100 TB the pruned LMs truncate to top-M vocab and broadcast
   * (the [[lmQuality]] note).
   */
  def mooreLewisScores(doc: DataFrame, inDomain: Column,
      minCount: Long = 2L, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val flagged = doc.select(col(id), col(text),
      inDomain.cast("boolean").as("_in"))
    val bg = Reuse.shared(bigramRows(flagged, text))
    val docBg = bg.select(col(id), col("t1"), col("t2"))
    val biGen = bg.groupBy("t1", "t2").agg(count(lit(1)).as("cb"))
    val biIn = bg.filter(col("_in")).groupBy("t1", "t2")
      .agg(count(lit(1)).as("cb"))
    val uniRows = Reuse.shared(flagged.select(col("_in"),
      explode(tokens(col(text))).as("t")))
    val uniGen = uniRows.groupBy("t").agg(count(lit(1)).as("cu"))
    val uniIn = uniRows.filter(col("_in")).groupBy("t")
      .agg(count(lit(1)).as("cu"))
    mooreLewisFrom(doc, biIn, uniIn, biGen, uniGen, minCount, id, text,
      docBigrams = Some(docBg))
  }

  /**
   * [[mooreLewisScores]]' scoring tail over PRE-AGGREGATED count
   * relations — the stored-two-LM seam (the [[stupidBackoffScoresFrom]]
   * contract twice): `biIn`/`uniIn` counted from the in-domain subset,
   * `biGen`/`uniGen` from the full corpus, all pure-addition partials
   * merged upstream (the streaming
   * [[graft.stream.StreamingPipeline.mooreLewisPartialsSink]]
   * accumulates exactly these, tagged by the in-domain flag); the
   * `minCount` prune applies after the merge, where it must.
   */
  def mooreLewisFrom(doc: DataFrame, biIn: DataFrame, uniIn: DataFrame,
      biGen: DataFrame, uniGen: DataFrame, minCount: Long = 2L,
      id: String = "doc_id", text: String = "text",
      docBigrams: Option[DataFrame] = None): DataFrame = {
    val bg = docBigrams.getOrElse(
      Reuse.shared(bigramRows(doc.select(col(id), col(text)), text)))
    val sIn = stupidBackoffScoresFrom(doc, biIn, uniIn, minCount, id,
      text, docBigrams = Some(bg))
    val sGen = stupidBackoffScoresFrom(doc, biGen, uniGen, minCount, id,
      text, docBigrams = Some(bg))
    sIn.select(col(id), col("n_bigrams"),
        col("n_backoff").as("n_backoff_in"),
        col("lm_log2q").as("lm_in"))
      .join(sGen.select(col(id),
        col("n_backoff").as("n_backoff_gen"),
        col("lm_log2q").as("lm_gen")), Seq(id))
      .withColumn("gain_oct", col("lm_in") - col("lm_gen"))
      .withColumn("selected", (col("gain_oct") >= 0L).cast("long"))
  }

  /**
   * Per-document character-distribution entropy — the zero-model
   * garbage detector: binary blobs, base64 runs and key-mash read HIGH
   * (flat char distribution), single-char spam and whitespace floods
   * read LOW; natural text sits in a stable per-language band. The
   * signal the quality stack ([[quality]]/Gopher rules) can't fake
   * cheaply, and the first filter a 100 TB crawl pass runs because it
   * needs no vocabulary at all.
   *
   * Integer-exact across engines (the ext134 octave discipline): per
   * char share_ppm = max((n_c·10⁶) DIV n, 1); its surprise octave is
   * `21 − bitlen(share_ppm)` ∈ [1, 20] (share 100% → 1, share 1 ppm →
   * 20 — the debiased −oct); `ent_oct = Σ n_c·surprise(c)` and the
   * per-char mean rides ×1000 (`(ent_oct·1000) DIV n` — all terms
   * non-negative, so trunc-vs-floor DIV never diverges). Characters
   * are Unicode code points on both sides.
   *
   * Scale shape: one doc-local char explode into a map-side-combined
   * groupBy((id, ch)) — the only corpus-sized shuffle, bounded by
   * Σ per-doc distinct chars (≲ alphabet × docs, far under token
   * counts); the per-doc total rides a window over the already
   * id-clustered matrix; empty docs come back as zero rows via the
   * left join.
   */
  def charEntropy(doc: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perChar = doc
      .select(col(id), explode(split(col(text), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy(col(id), col("ch")).agg(count(lit(1)).as("nc"))
    val byDoc = Window.partitionBy(col(id))
    val card = perChar
      .withColumn("n", sum("nc").over(byDoc))
      .withColumn("share_ppm",
        expr("greatest((nc * 1000000) DIV n, 1)"))
      .withColumn("surprise",
        lit(21L) - length(expr("bin(share_ppm)")).cast("long"))
      .groupBy(col(id))
      .agg(max("n").as("n_chars_used"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("nc") * col("surprise")).as("ent_oct"))
      .withColumn("mean_millioct",
        expr("(ent_oct * 1000) DIV n_chars_used"))
    doc.select(col(id)).join(card, Seq(id), "left")
      .select(col(id),
        coalesce(col("n_chars_used"), lit(0L)).as("n_chars_used"),
        coalesce(col("n_distinct_chars"), lit(0L))
          .as("n_distinct_chars"),
        coalesce(col("ent_oct"), lit(0L)).as("ent_oct"),
        coalesce(col("mean_millioct"), lit(0L)).as("mean_millioct"))
  }

  /**
   * T5-style span corruption — deterministic masked-span training-pair
   * generation, expressed relationally: tokens are masked by the
   * portable hash draw `hash("<salt>:<doc>:<pos>") mod den < rate`
   * (reproducible across engines/reruns — the property that lets a
   * recomputed pipeline regenerate byte-identical training pairs);
   * ADJACENT masked positions merge into spans (gaps-and-islands:
   * `grp = pos - row_number()` over the masked rows); span `s` is
   * replaced by the sentinel `<Xs>` in `input_text`, and `target_text`
   * is the concatenation of `<Xs> tokens...` per span — the exact T5
   * corruption contract.
   *
   * Scale shape: one posexplode → flat codegen hash per token, two
   * windows keyed by doc (pos-ordered — the standard per-doc sort), and
   * one groupBy(doc) re-assembly; no self-joins, no cross-doc shuffle
   * beyond the doc-keyed exchanges. The per-doc reassembly transform
   * runs post-aggregation on k-token arrays, not on the corpus scan.
   */
  def spanCorruption(doc: DataFrame, id: String = "doc_id",
      text: String = "text", rate: Int = 150, den: Int = 1000,
      salt: String = "mask"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = doc
      .select(col(id), posexplode(tokens(col(text))).as(Seq("pos", "tok")))
      .withColumn("m",
        Hashing.portableHash32(concat(lit(salt + ":"), col(id).cast("string"),
          lit(":"), col("pos").cast("string"))) % den < rate)
    // Masked rows feed the span windows AND both reassembly unions.
    val masked = Reuse.shared(toks.filter(col("m"))
      .withColumn("grp", col("pos") -
        row_number().over(Window.partitionBy(col(id)).orderBy(col("pos"))))
      .withColumn("span",
        dense_rank().over(Window.partitionBy(col(id)).orderBy(col("grp")))
          - 1)
      .withColumn("first", row_number().over(
        Window.partitionBy(col(id), col("grp")).orderBy(col("pos"))) === 1))
    val sentinel = concat(lit("<X"), col("span").cast("string"), lit(">"))
    def assemble(rows: DataFrame, outName: String): DataFrame =
      rows.groupBy(col(id)).agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("sub"), col("out")))),
          x => x.getField("out"))).as(outName))
    val inputRows = toks.filter(!col("m"))
      .select(col(id), col("pos"), lit(0).as("sub"), col("tok").as("out"))
      .union(masked.filter(col("first"))
        .select(col(id), col("pos"), lit(0).as("sub"), sentinel.as("out")))
    val targetRows = masked.filter(col("first"))
      .select(col(id), col("pos"), lit(0).as("sub"), sentinel.as("out"))
      .union(masked
        .select(col(id), col("pos"), lit(1).as("sub"), col("tok").as("out")))
    val stats = toks.groupBy(col(id)).agg(
      count(lit(1)).as("n_tokens"),
      sum(col("m").cast("long")).as("n_masked"))
    val nSpans = masked.filter(col("first"))
      .groupBy(col(id)).agg(count(lit(1)).as("n_spans"))
    doc.select(col(id))
      .join(assemble(inputRows, "input_text"), Seq(id), "left")
      .join(assemble(targetRows, "target_text"), Seq(id), "left")
      .join(stats, Seq(id), "left")
      .join(nSpans, Seq(id), "left")
      .select(col(id),
        coalesce(col("input_text"), lit("")).as("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
  }

  /**
   * Document fingerprints: (a) content fingerprint = first 16 hex of
   * md5(lower(text)); (b) an order-sensitive positional rolling hash —
   * sum over positions of tokenHash * position, mod 2^31-1 — exact int64
   * arithmetic, so it is partition-order independent and portable.
   */
  def fingerprints(doc: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val tokenRows = doc
      .select(col(id), posexplode(tokens(col(text))).as(Seq("pos", "tok")))
      .select(col(id), (col("pos") + 1).cast("long").as("pos"),
        Hashing.portableHash32(col("tok")).as("h"))
    // Per-term mod keeps every partial sum < n * 2^31: sum(h*pos) raw
    // would overflow int64 (ANSI throw) near ~90k-token docs; reducing
    // each term mod P first is the same value mod P with bounded partials.
    val rolling = tokenRows
      .groupBy(col(id))
      .agg((sum((col("h") * col("pos")) % Hashing.Mersenne31)
        % Hashing.Mersenne31).as("rolling_fp"))
    doc.select(col(id),
        substring(md5(lower(col(text))), 1, 16).as("content_fp"))
      .join(rolling, Seq(id))
  }

  /**
   * Winnowing fingerprints (Schleimer/Wilkerson/Aiken, "Winnowing: Local
   * Algorithms for Document Fingerprinting") — the MOSS-style robust
   * upgrade of [[fingerprints]]: hash every k-gram position, then keep
   * the MINIMUM hash of each sliding window of `w` consecutive k-grams,
   * distinct per doc. Guarantee: any shared substring of length ≥
   * k + w − 1 tokens produces at least one shared fingerprint, while
   * only ~2/(w+1) of position hashes are stored — the density/detection
   * trade local fingerprinting is built on. Docs with fewer than w
   * k-grams contribute one window over all of them; docs below k tokens
   * contribute nothing.
   *
   * Plan shape: explode-first position hashes (the shingle-pipeline
   * codegen pattern) under the same [[Dedup.MaxShinglesPerDoc]] cap as
   * the dedup probes, ONE doc-keyed shuffle for the ordered window
   * (winnowing is inherently per-doc sequential), then a local distinct.
   * The window frame is ROWS [CURRENT, w-1 FOLLOWING] with tail windows
   * (start > m−w+1) filtered out via a per-doc position count.
   */
  def winnowingFingerprints(doc: DataFrame, k: Int = 3, w: Int = 4,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val posH = doc.select(col(id), tokens(col(text)).as("_toks"))
      .select(col(id), col("_toks"),
        explode(when(size(col("_toks")) >= k,
          sequence(lit(1), least(size(col("_toks")) - lit(k - 1),
            lit(Dedup.MaxShinglesPerDoc))))
          .otherwise(array().cast("array<int>"))).as("_p"))
      .select(col(id), col("_p"),
        Hashing.portableHash32(
          concat_ws(" ", slice(col("_toks"), col("_p"), lit(k)))).as("h"))
    val win = Window.partitionBy(col(id)).orderBy(col("_p"))
      .rowsBetween(Window.currentRow, w - 1)
    val cnt = Window.partitionBy(col(id))
    posH
      .withColumn("fp", min(col("h")).over(win))
      .withColumn("_m", count(lit(1)).over(cnt))
      .filter(col("_p") <= greatest(lit(1), col("_m") - lit(w - 1)))
      .select(col(id), col("fp")).distinct()
  }

  /**
   * The OFFLINE artifact of the rare-token rate: every token type
   * whose corpus-wide instance count falls below 1/`denom` of the MEAN
   * type frequency — the long tail a tokenizer never learned and an LM
   * rarely saw. Rarity is RELATIVE (cnt < ⌊Σcnt / (denom·|vocab|)⌋),
   * not an absolute count: the same denom means the same thing at
   * sf0.001 and at 100 TB, and the threshold arithmetic stays in
   * int64 at any corpus size (the naive `cnt·denom·|vocab| < Σcnt`
   * form overflows once Σcnt·|vocab| passes 2^63). One token-keyed
   * count, map-side combined, + a broadcast 1-row total; the tail is
   * corpus-proportional (Heaps' law: most of the vocab), so consumers
   * join it token-keyed — it is NEVER broadcast. Stored once per
   * corpus snapshot; the streaming twin ([[oovRateAgainst]] under
   * [[graft.stream.StreamingPipeline.partialsSink]]) reads it as its
   * static side, exactly like ext69's shingle-df table — rarity judged
   * inside a stream would drift with arrival order (every token is rare
   * when it first appears).
   */
  def rareTokens(doc: DataFrame, denom: Long = 10,
      text: String = "text"): DataFrame =
    rareFromCounts(Reuse.shared(
      doc.select(explode(tokens(col(text))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))), denom)

  /** The relative-rarity cut over a (tok, cnt) relation — `counts`
    * must be pre-materialized (it feeds both the 1-row total and the
    * filter; without the cut Spark re-aggregates the corpus under
    * each). */
  private def rareFromCounts(counts: DataFrame, denom: Long): DataFrame = {
    require(denom >= 1, "denom must be >= 1")
    val tot = counts.agg(count(lit(1)).as("n_types"),
      sum(col("cnt")).as("n_instances"))
    // `when` guards the ANSI divide-by-zero on an empty vocabulary
    // (n_types = 0 and a NULL instance sum).
    counts.crossJoin(broadcast(tot))
      .filter(col("cnt") <
        when(col("n_types") > 0,
          expr(s"n_instances DIV ($denom * n_types)")).otherwise(lit(0L)))
      .select(col("tok"))
  }

  /**
   * Per-document rare-token (OOV-proxy) rate against a precomputed
   * [[rareTokens]] set: `n_rare` counts token INSTANCES whose type is
   * rare corpus-wide, `oov_ppm = ⌊1e6·n_rare/n_toks⌋` — the
   * quality-filter signal for "mostly unseen vocabulary" docs (OCR
   * noise, codes/IDs, wrong-language fragments) and the curation
   * counterweight to ext69's novelty (high novelty + low OOV = new
   * content in known vocabulary; high both = probably garbage).
   *
   * Scale shape: explode → ONE token-keyed left join against the rare
   * set → one doc-keyed aggregate. All int64. Docs whose every token
   * is unique corpus-wide score 1e6; `tokens` never yields an empty
   * array for non-empty text, so n_toks ≥ 1 (no zero division). A
   * doc's row depends only on its own tokens and the static set, so
   * the streaming twin (ext80) scores each micro-batch against the
   * stored set with no cross-batch state.
   */
  def oovRateAgainst(doc: DataFrame, rare: DataFrame,
      id: String = "doc_id", text: String = "text"): DataFrame =
    scoreRareInstances(
      doc.select(col(id), explode(tokens(col(text))).as("tok")), rare, id)

  /**
   * Batch form: rare set and per-doc score off ONE shared explode of
   * the corpus ([[Reuse.shared]] cut — EAGER like [[Sampling
   * .mixtureWeights]]: constructing the frame materializes the
   * exploded token relation so the corpus is scanned once, not twice).
   */
  def oovRate(doc: DataFrame, denom: Long = 10,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val inst = Reuse.shared(
      doc.select(col(id), explode(tokens(col(text))).as("tok")))
    val rare = rareFromCounts(Reuse.shared(
      inst.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))), denom)
    scoreRareInstances(inst, rare, id)
  }

  private def scoreRareInstances(inst: DataFrame, rare: DataFrame,
      id: String): DataFrame =
    inst.join(rare.withColumn("_rare", lit(1L)), Seq("tok"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("_rare").isNotNull, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("oov_ppm", expr("(n_rare * 1000000) DIV n_toks"))

  /**
   * PII scrub patterns, applied IN ORDER — an earlier redaction can
   * consume text a later pattern would match (an email's digit run is
   * gone before `idnum` looks), and both engines replay the same order
   * so the scrubbed text is engine-identical. The syntax is the
   * Java-regex ∩ RE2 portable subset (character classes, bounded
   * repeats; no backreferences, no lookaround) — the same expression
   * string runs under Spark's `regexp_replace` (java.util.regex) and
   * the DuckDB oracle's RE2.
   *
   * The patterns are the standard curation scrub set: emails, IPv4
   * addresses, international phone numbers (+CC digits), and long bare
   * digit runs (account/ID numbers). Counting for the audit is done
   * per pattern on the RAW text, independently — the audit reports
   * what a pattern would find, the scrub applies the ordered chain.
   */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "([0-9]{1,3}\\.){3}[0-9]{1,3}",
    "phone" -> "\\+[0-9]{7,15}",
    "idnum" -> "[0-9]{9,}")

  /** The ordered scrub chain: each pattern replaced globally with its
    * `<NAME>` placeholder. Pure nested `regexp_replace` — codegen'd,
    * stateless, scan-local (the 100 TB scrub is a map-only pass). */
  def scrub(text: Column,
      patterns: Seq[(String, String)] = PiiPatterns): Column =
    patterns.foldLeft(text) { case (c, (name, pat)) =>
      regexp_replace(c, pat, s"<${name.toUpperCase}>")
    }

  /**
   * PII audit card per group (default: per source): doc and char
   * volumes, per-pattern match counts on the raw text, docs flagged by
   * any pattern, and the char count after the ordered scrub — the
   * before/after evidence row a scrub pass ships with. One scan, one
   * |groups|-row aggregate; every column is algebraic (count/sum), so
   * the card streams with the partials pattern (ext78/82/84).
   */
  def piiAudit(doc: DataFrame, by: Seq[String] = Seq("source"),
      text: String = "text"): DataFrame = {
    val t = col(text)
    val hitCols = PiiPatterns.map { case (name, pat) =>
      sum(size(regexp_extract_all(t, lit(pat), lit(0))))
        .as(s"hits_$name")
    }
    // First-match containment (`rlike`), not extract_all: the flag
    // column doesn't need match materialization, and on a corpus scan
    // the short-circuit is the difference between "find one" and
    // "collect all" per doc per pattern.
    val anyHit = PiiPatterns.map { case (_, pat) => t.rlike(pat) }
      .reduce(_ || _)
    doc.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        (hitCols :+
          sum(when(anyHit, 1L).otherwise(0L)).as("docs_flagged") :+
          sum(length(t)).cast("long").as("n_chars_raw") :+
          sum(length(scrub(t))).cast("long").as("n_chars_scrubbed")): _*)
  }

  /**
   * PII redaction SURGERY — the APPLY side of [[piiAudit]], following
   * the measure→apply discipline of ext91→ext96 and ext106→ext123:
   * run the ordered scrub chain per document, counting the redactions
   * each stage ACTUALLY applies. The audit counts what each pattern
   * would find on RAW text, independently; the surgery counts what
   * the ordered chain replaces — an email's digit run is consumed by
   * the `email` stage before `idnum` ever looks at the text, so the
   * two counts legitimately differ on overlapping matches. Emits the
   * reassembled clean text, per-pattern and total applied-redaction
   * counts, and before/after char lengths (the per-doc evidence row).
   * A PII-free document comes back byte-identical.
   *
   * Scale shape: map-only and scan-local — nested codegen'd
   * `regexp_replace`/`regexp_extract_all` projections, no shuffle, no
   * state; the 100 TB redaction pass is a single read-transform-write.
   * Composes as a stage of the ext126 curation chain (stateless, so
   * it also lifts unchanged into the streaming ingest sink).
   */
  def redactPii(doc: DataFrame, id: String = "doc_id",
      text: String = "text",
      patterns: Seq[(String, String)] = PiiPatterns): DataFrame = {
    val start = doc.select(col(id), col(text).as("_t"),
      length(col(text)).cast("long").as("len_raw"))
    val staged = patterns.foldLeft(start) { case (df, (name, pat)) =>
      df.withColumn(s"n_redact_$name",
          size(regexp_extract_all(col("_t"), lit(pat), lit(0)))
            .cast("long"))
        .withColumn("_t",
          regexp_replace(col("_t"), pat, s"<${name.toUpperCase}>"))
    }
    val total = patterns.map(p => col(s"n_redact_${p._1}")).reduce(_ + _)
    staged.select(
      col(id) +: patterns.map(p => col(s"n_redact_${p._1}")) ++: Seq(
        total.as("n_redactions"), col("len_raw"),
        length(col("_t")).cast("long").as("len_clean"),
        col("_t").as("clean_text")): _*)
  }

  /** Re-fold of [[piiAudit]] cards: every column is a count/sum, so
    * duplicate group keys (micro-batch partials) sum exactly — the
    * ext78/82/84 partials-fold contract. */
  def piiAuditFromCounts(raw: DataFrame): DataFrame = {
    val vals = Seq("n_docs") ++ PiiPatterns.map("hits_" + _._1) ++
      Seq("docs_flagged", "n_chars_raw", "n_chars_scrubbed")
    val keys = raw.columns.filterNot(vals.toSet).toSeq
    raw.groupBy(keys.map(col): _*)
      .agg(sum(col(vals.head)).as(vals.head),
        vals.tail.map(v => sum(col(v)).as(v)): _*)
  }

  /**
   * The full Gopher repetition-signal card (Rae et al. 2021, table A1's
   * repetition block), per document — [[repetition]] carries the
   * dup-2-gram ratio and dominant token; this completes the suite in
   * token-position units:
   *
   *  - `top{2,3,4}_ppm`: positions covered by the MOST FREQUENT n-gram
   *    (count × n, ppm of the doc's tokens) — the paper's "fraction in
   *    the most frequently occurring n-gram". Overlapping repeats can
   *    push the product past 1e6 (the paper's measure has the same
   *    property); reported raw, not clamped.
   *  - `dup{5..10}_ppm`: DISTINCT positions covered by any n-gram
   *    occurring ≥ 2 times within the doc — "fraction of characters in
   *    duplicate n-grams", exact by discrete-position union (no
   *    interval arithmetic needed).
   *
   * n-grams are hash-identified ([[Hashing.portableHash32]], same
   * convention as the shingle pipeline; a within-doc collision would
   * merge two n-grams identically in both engines). Scale shape: ONE
   * tokenization, one 9-way n-explode bounded per doc by
   * 9 × [[graft.ops.Dedup.MaxShinglesPerDoc]], a doc-keyed count, a
   * doc-keyed join back, and the offset explode (≤ 10×) runs only on
   * instances already known shared. Everything is doc-local — the
   * operator is embarrassingly parallel on doc_id and stateless
   * across documents (streams as a plain per-batch map).
   */
  def gopherRepetitionCard(doc: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val ns = 2 to 10
    val inst = Reuse.shared(doc
      .select(col(id), tokens(col(text)).as("_toks"))
      .select(col(id), col("_toks"), size(col("_toks")).as("_len"),
        explode(array(ns.map(lit(_)): _*)).as("n"))
      .select(col(id), col("n"),
        explode(when(col("_len") >= col("n"),
          sequence(lit(1), least(col("_len") - col("n") + 1,
            lit(Dedup.MaxShinglesPerDoc))))
          .otherwise(array().cast("array<int>"))).as("i"),
        col("_toks"))
      .select(col(id), col("n"), col("i"),
        Hashing.portableHash32(concat_ws(" ",
          slice(col("_toks"), col("i"), col("n")))).as("h")))
    val cnts = inst.groupBy(col(id), col("n"), col("h"))
      .agg(count(lit(1)).as("c"))
    val top = cnts.filter(col("n") <= 4)
      .groupBy(col(id), col("n"))
      .agg((max(col("c")) * col("n")).as("cov"))
    val dup = inst.filter(col("n") >= 5)
      .join(cnts.filter(col("c") >= 2L), Seq(id, "n", "h"))
      .select(col(id), col("n"),
        explode(sequence(col("i"), col("i") + col("n") - 1)).as("p"))
      .distinct()
      .groupBy(col(id), col("n")).agg(count(lit(1)).as("cov"))
    // one row per (doc, n) on each side → max == the single value
    val wide = top.unionByName(dup).groupBy(col(id))
      .agg(max(when(col("n") === 2, col("cov"))).as("_c2"),
        ns.tail.map(n =>
          max(when(col("n") === n, col("cov"))).as(s"_c$n")): _*)
    val ppm = (n: Int) =>
      expr(s"(coalesce(_c$n, 0) * 1000000) DIV n_toks")
    doc.select(col(id), size(tokens(col(text))).cast("long").as("n_toks"))
      .join(wide, Seq(id), "left")
      .select(Seq(col(id), col("n_toks")) ++
        (2 to 4).map(n => ppm(n).as(s"top${n}_ppm")) ++
        (5 to 10).map(n => ppm(n).as(s"dup${n}_ppm")): _*)
  }

  /** Word-length cap for [[bpeMerges]]: positions beyond this never
    * enter the symbol state (bounds the per-word fan-out; interpolated
    * into the ext111 oracle's `range`). */
  val BpeMaxWordLen = 32

  /**
   * BPE merge-table LEARNING (Sennrich et al. 2016) — tokenizer
   * vocabulary induction as an iterative relational algorithm, the
   * missing third of the tokenizer stack ([[tokenCounts]] applies a
   * tokenizer, ext34 counts a vocab; this LEARNS one):
   *
   *  1. word-frequency table (one corpus pass — the ONLY corpus-sized
   *     work; everything after iterates on the vocab-bounded state);
   *  2. per word, the symbol sequence starts as characters
   *     (positional (word, cnt, pos, sym) rows, capped at
   *     [[BpeMaxWordLen]]);
   *  3. each round: count adjacent symbol pairs weighted by word
   *     count (overlapping adjacencies count, as in the reference
   *     implementation's get_stats), take the argmax pair —
   *     (count DESC, left ASC, right ASC) tie-break — and merge its
   *     leftmost non-overlapping occurrences in every word
   *     (run-parity greedy: within a run of consecutive match starts,
   *     merge the even offsets).
   *
   * Returns the merge table (merge_rank, left_sym, right_sym,
   * pair_count) — nMerges rows, THE stored tokenizer artifact.
   * Rounds iterate kmeans-style: per-round state is checkpointed
   * ([[Reuse.shared]]) so lineage stays flat; every shuffle is keyed
   * on `word` (vocab-bounded, never the corpus). A corpus that
   * exhausts its achievable merges before nMerges rounds (e.g. a
   * single-character vocabulary) yields a SHORTER table — the learn
   * loop stops at the last achievable merge rather than applying an
   * empty pair (which would annihilate the symbol state); nMerges == 0
   * yields the typed empty table.
   */
  def bpeMerges(doc: DataFrame, nMerges: Int = 3,
      text: String = "text"): DataFrame =
    bpeLearn(doc, nMerges, text)._1

  /** The symbol state after applying [[bpeMerges]]' learned table —
    * the ENCODE side of the tokenizer: (word, cnt, n_syms) per
    * distinct word, where n_syms is the true BPE token count under
    * the nMerges-deep vocabulary (characters past [[BpeMaxWordLen]]
    * count as single symbols). */
  def bpeSegmentCounts(doc: DataFrame, nMerges: Int = 3,
      text: String = "text"): DataFrame =
    bpeLearn(doc, nMerges, text)._2
      .groupBy("word")
      .agg(first(col("cnt")).as("cnt"), count(lit(1)).as("n_core"))
      .select(col("word"), col("cnt"),
        (col("n_core") +
          greatest(length(col("word")) - lit(BpeMaxWordLen), lit(0)))
          .as("n_syms"))

  /**
   * Tokenizer-estimate audit — prices the `bpe_estimate` heuristic
   * (chars/4, the [[quality]]/[[tokenFertility]] proxy) against TRUE
   * BPE token counts under the [[bpeMerges]]-learned vocabulary, per
   * language: whitespace tokens, true BPE tokens, estimated tokens,
   * absolute error ppm. The heuristic prices token BUDGETS (ext62's
   * ledger, ext78's packing) — this card says how far off those
   * budgets run per language, and re-prices as the merge table
   * deepens. Scale shape: the encode state is vocab-bounded; the
   * per-lang instance counts are one corpus explode, joined to the
   * per-word symbol counts on `word` — vocab-keyed, never corpus².
   */
  def bpeEstimateAudit(doc: DataFrame, nMerges: Int = 3,
      by: String = "lang", text: String = "text"): DataFrame =
    estimateAuditTail(doc,
      bpeSegmentCounts(doc, nMerges, text).select(col("word"),
        col("n_syms")), by, text)

  /** [[bpeEstimateAudit]] against a STORED merge table (the ext111
    * artifact) instead of re-learning it: the per-word counts come
    * from [[bpeApplyCounts]]' replay, which reproduces the learn-time
    * state exactly on the learning corpus (spec law) — so an audit
    * pass reads the once-per-snapshot artifact like every other
    * consumer (the r9 `pqCodebooksIndex` precedent for the tokenizer
    * family). */
  def bpeEstimateAuditFrom(doc: DataFrame, merges: DataFrame,
      nMerges: Int = 3, by: String = "lang",
      text: String = "text"): DataFrame =
    estimateAuditTail(doc,
      bpeApplyCounts(doc, merges, nMerges, text).select(col("word"),
        col("n_syms")), by, text)

  /** Shared tail of the two estimator-audit forms: per-stratum word
    * instances joined to per-word true symbol counts on `word`
    * (vocab-keyed, never corpus²), then the exact ppm error card. */
  private def estimateAuditTail(doc: DataFrame, counts: DataFrame,
      by: String, text: String): DataFrame = {
    val langWords = doc
      .select(col(by), explode(tokens(col(text))).as("word"))
      .groupBy(col(by), col("word")).agg(count(lit(1)).as("n"))
    langWords.join(counts, "word")
      .groupBy(col(by))
      .agg(sum(col("n")).as("ws_tokens"),
        sum(col("n") * col("n_syms")).as("bpe_tokens_true"),
        sum(col("n") * expr("(length(word) + 3) DIV 4"))
          .as("bpe_tokens_est"))
      .withColumn("est_err_ppm",
        when(col("bpe_tokens_true") === 0L, 0L).otherwise(expr(
          "(abs(bpe_tokens_est - bpe_tokens_true) * 1000000)" +
            " DIV bpe_tokens_true")))
  }

  /** Shared learn loop: returns (merge table, final symbol state). */
  /** Initial BPE symbol state for a corpus: one positional character
    * row per (distinct word, pos ≤ [[BpeMaxWordLen]]). */
  private def bpeInitState(doc: DataFrame, text: String): DataFrame =
    Reuse.shared(doc.select(explode(tokens(col(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1),
          least(length(col("word")), lit(BpeMaxWordLen)))).as("pos"))
      .withColumn("sym", expr("substr(word, pos, 1)")))

  /** Adjacency relation of a symbol state: (word, cnt, pos, a, b). */
  private def bpeAdjacent(state: DataFrame): DataFrame = {
    val nxt = state.select(col("word").as("w2"), (col("pos") - 1)
      .as("p2"), col("sym").as("b"))
    state.join(nxt,
        col("word") === col("w2") && col("pos") === col("p2"))
      .select(col("word"), col("cnt"), col("pos"),
        col("sym").as("a"), col("b"))
  }

  /** One merge application: replace the leftmost non-overlapping
    * occurrences of `pairRow`'s (a, b) in every word (run-parity
    * greedy) and renumber. `pairRow` must be a materialized 1-row
    * frame. Returns the checkpointed next state. */
  private def bpeApplyPair(state: DataFrame, pairs: DataFrame,
      pairRow: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("word").orderBy("pos")
    val starts = pairs
      .join(broadcast(pairRow.select("a", "b")), Seq("a", "b"))
      .select("word", "pos")
    val runs = starts.withColumn("rn", row_number().over(wOrd))
      .withColumn("off", row_number().over(
        Window.partitionBy(col("word"), col("pos") - col("rn"))
          .orderBy("pos")) - 1)
    val mergeAt = runs.filter(col("off") % 2 === 0)
      .select(col("word"), col("pos"))
    Reuse.shared(state
      .join(mergeAt.withColumn("_mg", lit(1)), Seq("word", "pos"),
        "left")
      .join(mergeAt.select(col("word"), (col("pos") + 1).as("pos"))
        .withColumn("_ab", lit(1)), Seq("word", "pos"), "left")
      .filter(col("_ab").isNull)
      .crossJoin(broadcast(pairRow.select(col("a").as("_ta"),
        col("b").as("_tb"))))
      .withColumn("sym", when(col("_mg") === 1,
        concat(col("_ta"), col("_tb"))).otherwise(col("sym")))
      .withColumn("pos", row_number().over(wOrd))
      .select("word", "cnt", "pos", "sym"))
  }

  /** Typed empty merge table — what [[bpeLearn]] returns when the
    * corpus exhausts its achievable merges before round 1, or when
    * nMerges == 0 (r8 ADVICE: previously a null frame / a state-
    * annihilating empty-pair apply). */
  private def emptyMergeTable(doc: DataFrame): DataFrame =
    doc.sparkSession.range(0).select(
      col("id").as("merge_rank"), lit("").as("left_sym"),
      lit("").as("right_sym"), col("id").as("pair_count"))

  private def bpeLearn(doc: DataFrame, nMerges: Int,
      text: String): (DataFrame, DataFrame) = {
    var state = bpeInitState(doc, text)
    val tops = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var exhausted = false
    var r = 1
    while (r <= nMerges && !exhausted) {
      val pairs = bpeAdjacent(state)
      val topRow = Reuse.shared(pairs.groupBy("a", "b")
        .agg(sum(col("cnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("a").asc, col("b").asc)
        .limit(1))
      // No adjacent pair left (every word is a single symbol): applying
      // an EMPTY pair frame would annihilate the whole symbol state via
      // bpeApplyPair's crossJoin — stop learning instead, exactly like
      // bpeApplyCounts' replay guard (r8 ADVICE).
      if (topRow.isEmpty) exhausted = true
      else {
        state = bpeApplyPair(state, pairs, topRow)
        tops += topRow.select(lit(r.toLong).as("merge_rank"),
          col("a").as("left_sym"), col("b").as("right_sym"),
          col("pair_count"))
        r += 1
      }
    }
    val table =
      if (tops.isEmpty) emptyMergeTable(doc)
      else tops.reduce(_ unionByName _).orderBy("merge_rank")
    (table, state)
  }

  /**
   * Apply a STORED merge table (the [[bpeMerges]] artifact) to a new
   * corpus — the SERVING side of the tokenizer: merges replay in rank
   * order over the words' symbol states, no counting, no argmax.
   * Returns per-word (word, cnt, n_syms) like [[bpeSegmentCounts]];
   * applying a table to the corpus it was learned from reproduces the
   * learn-time state exactly (spec law, and fast == relational is a
   * second spec law against [[bpeApplyCountsRelational]]). `nMerges`
   * bounds the replay (ranks beyond the table apply nothing). This is
   * what a stream runs per micro-batch against the broadcast table
   * ([[graft.stream.StreamingPipeline.partialsSink]]; learning merges
   * in-stream would pick them by arrival order, the ext111 boundary),
   * so streamed per-word counts equal the batch encoder's at any
   * batching.
   *
   * ONE distributed pass, regardless of table depth (r13 verdict: the
   * relational replay chained one Spark stage per merge rank — ~32k
   * stages to ENCODE a corpus under a production table). Applying a
   * static table is a pure per-word function, so: the table (nMerges
   * rows by construction — broadcast-sized at any depth) collects once
   * and broadcasts as a rank map; the corpus collapses map-side into
   * the distinct-word vocabulary (the only shuffle, vocab-bounded,
   * never the corpus); each word replays the whole table locally in
   * [[bpeReplayTokenCount]] — O(word_len × achievable merges) via a
   * rank-map floor scan, NOT O(word_len × table_depth), so a 32k-deep
   * table costs a 32-symbol word at most 31 merge applications. The
   * kernel rides a UDF PROJECTION (not mapPartitions) deliberately:
   * a projection preserves the groupBy's hashpartitioning(word), so
   * consumers that re-join on `word` ([[estimateAuditTail]], the
   * streaming encode sink) reuse the exchange instead of re-shuffling
   * the vocab table.
   */
  def bpeApplyCounts(doc: DataFrame, merges: DataFrame, nMerges: Int,
      text: String = "text"): DataFrame = {
    val spark = doc.sparkSession
    // A pair can hold SEVERAL replay positions: a learned table never
    // repeats a pair, but a stored/hand-built one may, and a later
    // duplicate can genuinely merge (an intervening merge can recreate
    // the pair — e.g. (a,bc) at rank 1 is a no-op until (b,c) at rank 2
    // builds "bc", and a rank-3 (a,bc) then fires). Keeping every rank
    // preserves exact rank-order semantics for any table.
    val rankOf: Map[(String, String), Array[Int]] = merges
      .filter(col("merge_rank") <= nMerges.toLong)
      .select(col("merge_rank"), col("left_sym"), col("right_sym"))
      .collect()
      .sortBy(_.getLong(0))
      .iterator.zipWithIndex
      .map { case (row, i) => ((row.getString(1), row.getString(2)), i) }
      .toSeq.groupBy(_._1)
      .map { case (p, xs) => (p, xs.map(_._2).sorted.toArray) }
    val bc = spark.sparkContext.broadcast(rankOf)
    val replay = udf((w: String) => bpeReplayTokenCount(w, bc.value))
    doc.select(explode(tokens(col(text))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("n_syms", replay(col("word")))
  }

  /**
   * Pure per-word replay of a rank-indexed merge table — the local
   * kernel of [[bpeApplyCounts]]. Symbols start as the word's first
   * [[BpeMaxWordLen]] code points (the [[bpeInitState]] cap; Spark's
   * `substr`/`length` count code points, so segmentation here is
   * code-point-exact incl. multibyte). Ranks replay in order; each
   * applied rank merges its pair's leftmost non-overlapping
   * occurrences — the left-to-right greedy scan, provably identical
   * to the learn loop's run-parity rule (within a run of consecutive
   * match starts, the even offsets merge). A rank-monotone floor scan
   * finds each next applicable rank as the MINIMUM rank ≥ floor among
   * the current adjacent pairs (one hash lookup per adjacency), which
   * replays exactly the rank-order semantics while skipping absent
   * ranks in O(1) — cost is bounded by the word's achievable merges,
   * independent of table depth. Returns the final symbol count plus
   * over-cap code points as single symbols (the n_syms contract).
   */
  private[graft] def bpeReplayTokenCount(word: String,
      rankOf: Map[(String, String), Array[Int]]): Long = {
    var cur = new scala.collection.mutable.ArrayBuffer[String](
      math.min(word.length, BpeMaxWordLen))
    var i = 0
    var cps = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      if (cps < BpeMaxWordLen) cur += word.substring(i, i + n)
      i += n
      cps += 1
    }
    var floor = 0
    var done = rankOf.isEmpty
    while (!done && cur.length >= 2) {
      // the next rank the replay would apply: min rank >= floor over
      // the CURRENT adjacencies (ranks below the floor already ran —
      // rank order never revisits, even if a merge re-creates an
      // earlier rank's pair)
      var best = Int.MaxValue
      var bestA: String = null
      var bestB: String = null
      var j = 0
      while (j < cur.length - 1) {
        val rks = rankOf.getOrElse((cur(j), cur(j + 1)), null)
        if (rks != null) {
          // smallest replay position >= floor for this pair (arrays are
          // length 1 for learned tables; duplicates stay rank-ordered)
          var i2 = 0
          while (i2 < rks.length && rks(i2) < floor) i2 += 1
          if (i2 < rks.length && rks(i2) < best) {
            best = rks(i2)
            bestA = cur(j)
            bestB = cur(j + 1)
          }
        }
        j += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge rank `best`: leftmost non-overlapping occurrences
        val out = new scala.collection.mutable.ArrayBuffer[String](
          cur.length)
        j = 0
        while (j < cur.length) {
          if (j + 1 < cur.length && cur(j) == bestA
              && cur(j + 1) == bestB) {
            out += bestA + bestB
            j += 2
          } else {
            out += cur(j)
            j += 1
          }
        }
        cur = out
        floor = best + 1
      }
    }
    cur.length.toLong + math.max(cps - BpeMaxWordLen, 0).toLong
  }

  /**
   * The r8→r13 relational replay of a stored merge table — kept as the
   * oracle-shaped AUDIT TWIN of [[bpeApplyCounts]] (the equivalence
   * spec law runs both and asserts identical (word, cnt, n_syms)).
   * One Spark stage chains per merge rank, so this form is for
   * verification at shallow depth only — serving uses the one-pass
   * kernel above.
   */
  private[graft] def bpeApplyCountsRelational(doc: DataFrame,
      merges: DataFrame, nMerges: Int,
      text: String = "text"): DataFrame = {
    var state = bpeInitState(doc, text)
    val table = merges
      .filter(col("merge_rank") <= nMerges.toLong)
      .select(col("merge_rank"), col("left_sym"), col("right_sym"))
      .collect()
      .map(row => (row.getLong(0), row.getString(1), row.getString(2)))
      .sortBy(_._1)
    table.foreach { case (_, a, b) =>
      val pairRow = doc.sparkSession.range(1)
        .select(lit(a).as("a"), lit(b).as("b"))
      state = bpeApplyPair(state, bpeAdjacent(state), pairRow)
    }
    state.groupBy("word")
      .agg(first(col("cnt")).as("cnt"), count(lit(1)).as("n_core"))
      .select(col("word"), col("cnt"),
        (col("n_core") +
          greatest(length(col("word")) - lit(BpeMaxWordLen), lit(0)))
          .as("n_syms"))
  }

  /** Conservative content normalization for dedup (the C4/CCNet
    * convention): lowercase, non-alphanumerics to spaces, runs of
    * spaces collapsed, ends trimmed. Pure codegen'd projection —
    * composes with any hash-identity operator ([[Dedup.exact]],
    * [[Dedup.snapshotDiff]]) to turn raw identity into normalized
    * identity. Deliberately ASCII-scoped: portable across engines'
    * regex dialects and Unicode tables (an NFKC pass is
    * engine-specific and belongs upstream of the identity decision). */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /**
   * Normalization-sensitive duplication card, per stratum: distinct
   * docs by RAW text identity vs by [[normalizeText]]'d identity —
   * the gap is duplication visible only after case/punctuation/
   * whitespace normalization, i.e. exactly what [[Dedup.exact]] on
   * raw text misses and a C4-style normalized dedup pass would
   * reclaim. Identities are full md5 (a 31-bit hash would birthday-
   * merge distinct texts into phantom dups at corpus scale —
   * snapshotDiff's rationale). One scan, one two-distinct-count
   * aggregate per stratum; only digests shuffle, never text.
   */
  def normalizationDupCard(doc: DataFrame,
      by: Seq[String] = Seq("source"), text: String = "text"): DataFrame =
    doc.groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col(text))).as("distinct_raw"),
        countDistinct(md5(normalizeText(col(text)))).as("distinct_norm"))
      .withColumn("norm_gain", col("distinct_raw") - col("distinct_norm"))
      .withColumn("gain_ppm",
        expr("(norm_gain * 1000000) DIV distinct_raw"))

  /**
   * Pairwise vocabulary-distribution overlap between strata — content
   * drift where ext82 measures SHARE drift: for each stratum pair, the
   * total-variation overlap Σ_t min(p_a(t), p_b(t)) of their unigram
   * distributions, ppm-quantized (`tv_ppm = 1e6 − overlap_ppm`). Each
   * per-(stratum, token) probability is floor-quantized to ppm BEFORE
   * the min/sum — exact int64 end to end, engine-portable; the
   * flooring bias is < 1 ppm per shared type (≤ |vocab| ppm total,
   * stated here rather than hidden in float noise).
   *
   * Scale shape: one token-instance explode into a (stratum, token)
   * count (map-side combined), a broadcast |strata|-row totals join,
   * then a token-keyed self-join whose fan-out is bounded by |strata|
   * per token — never vocab², never corpus². Output is AT MOST
   * C(|strata|, 2) rows: a stratum pair sharing zero token types never
   * meets in the inner self-join, so fully-disjoint pairs are OMITTED
   * rather than emitted as tv_ppm = 1e6 rows (callers wanting explicit
   * rows for disjoint pairs left-join this against a strata cross
   * product; COVERAGE.md documents the choice).
   */
  def vocabOverlap(doc: DataFrame, by: String = "lang",
      text: String = "text"): DataFrame = {
    // The count relation feeds the totals AND both pair sides —
    // materialized once instead of re-planning the explode per reader.
    val cnt = Reuse.shared(doc
      .select(col(by).as("g"), explode(tokens(col(text))).as("tok"))
      .groupBy("g", "tok").agg(count(lit(1)).as("cnt")))
    val tot = cnt.groupBy("g").agg(sum("cnt").as("tot"))
    val p = cnt.join(broadcast(tot), "g")
      .withColumn("ppm", expr("(cnt * 1000000) DIV tot"))
      .select("g", "tok", "ppm")
    p.select(col("tok"), col("g").as("g_a"), col("ppm").as("ppm_a"))
      .join(p.select(col("tok"), col("g").as("g_b"),
        col("ppm").as("ppm_b")), "tok")
      .filter(col("g_a") < col("g_b"))
      .groupBy("g_a", "g_b")
      .agg(count(lit(1)).as("shared_types"),
        sum(least(col("ppm_a"), col("ppm_b"))).as("overlap_ppm"))
      .withColumn("tv_ppm", lit(1000000L) - col("overlap_ppm"))
  }
}

/**
 * Portable hashing — identical values computable in Spark and in any
 * engine with md5 + integer arithmetic (the DuckDB oracle, a validation
 * notebook...). 32-bit value from the first 8 hex chars of md5, reduced
 * mod 2^31-1 so universal-hash products a*h stay inside int64.
 */
object Hashing {
  val Mersenne31: Long = 2147483647L // 2^31 - 1, prime

  /** Native fused form (graft.functions.PortableHash32) — used on all
    * hot paths; no intermediate hex-string allocation per row. */
  def portableHash32(c: Column): Column =
    graft.functions.PortableHash32(c)

  /** Built-in-composed equivalent, kept as the readable specification
    * and for parity testing (PortableHash32Spec). */
  def portableHash32Composed(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long") % Mersenne31

  /** DuckDB twin of [[portableHash32]] for oracle SQL. */
  def portableHash32Sql(e: String): String =
    s"(CAST('0x' || substr(md5($e), 1, 8) AS BIGINT) % 2147483647)"

  /** j-th universal hash over a base hash h (h < 2^31): (a_j*h + b_j) mod p.
    * Constants are fixed and inlined into both engines' expressions. */
  def seedA(j: Int): Long = ((j + 1) * 2654435761L) % (Mersenne31 - 1) + 1
  def seedB(j: Int): Long = ((j + 7) * 40503L * 65537L) % Mersenne31

  /** Driver-side twin of [[portableHash32]] — same value, computed in
    * Scala. Used to fold DETERMINISTIC hash-derived constants (e.g. LSH
    * hyperplane weights) into plan-time literals instead of re-hashing
    * per row at runtime. Parity-tested against the Spark expression in
    * PortableHash32Spec. */
  def portableHash32Local(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).take(4)
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % Mersenne31
  }
}
