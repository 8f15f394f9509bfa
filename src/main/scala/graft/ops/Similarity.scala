package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (SURVEY.md §7.1 M6):
 * brute-force cosine top-k as the exact baseline, and an IVF-style
 * bucket-restricted variant as the scale path.
 *
 * Determinism across engines: embeddings are floor-quantized to int64
 * (floor(double(v) * 1e6)) and dot products / norms are exact integer
 * sums — order-independent, so any partitioning and any other engine
 * (the DuckDB oracle) produce identical cosines; the final
 * dot/sqrt(na*nb) is a fixed sequence of IEEE double ops. Float sums
 * would tie-break top-k differently run to run; integers cannot.
 */
object Similarity {

  val QuantScale = 1000000.0d

  /** Cosine at/above which two embeddings count as near-duplicates —
    * shared by [[cosineNearDupPairs]], [[hardNegatives]] and the ext49
    * oracle SQL (single source of truth; r4 ADVICE). */
  val NearDupThreshold = 0.42d

  /** Quantize a float-array embedding to int64: floor(double(v)*1e6) —
    * the native fused expression (one primitive loop in whole-stage
    * codegen; the composed `transform` below is a CodegenFallback HOF
    * whose interpreted per-element path is banned from scan hot paths,
    * see [[graft.functions.QuantizeVector]]). */
  def quantize(emb: Column): Column =
    graft.functions.QuantizeVector(emb, QuantScale)

  /** Built-in-composed equivalent of [[quantize]] — readable
    * specification, used in parity tests (QDotProductSpec). */
  def quantizeComposed(emb: Column): Column =
    transform(emb, v => floor(v.cast("double") * lit(QuantScale)).cast("long"))

  /** Exact integer dot product of two quantized vectors — the native
    * fused expression (one primitive loop, no intermediate array, inside
    * whole-stage codegen). The composed-builtin specification it was
    * parity-tested against: `aggregate(zip_with(a, b, _*_), 0L, _+_)`
    * (kept below for readability and spec tests). */
  def qdot(a: Column, b: Column): Column = graft.functions.QDotProduct(a, b)

  /** Built-in-composed equivalent of [[qdot]] — readable specification,
    * used in parity tests (QDotProductSpec). */
  def qdotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  def qnorm2(a: Column): Column = qdot(a, a)

  /** cosine = dot / sqrt(na*nb), computed double-exactly from the integer
    * sums (na*nb would overflow int64, so the product is in doubles). */
  def cosine(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / sqrt(na.cast("double") * nb.cast("double"))

  private def prepared(emb: DataFrame, id: String, vec: String): DataFrame =
    emb.select(col(id), quantize(col(vec)).as("q"))
      .withColumn("n2", qnorm2(col("q")))

  /**
   * Brute-force cosine top-k: the exact baseline. The (small) query set is
   * broadcast against the full corpus — one pass over the corpus, no
   * shuffle of the corpus itself; per-query ranking shuffles only
   * |queries × corpus| scalar rows pre-pruned by nothing (exact search).
   */
  def bruteTopK(emb: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    bruteTopKMetric(emb, queries, k, "cosine", id, vec)
      .withColumnRenamed("score", "cos")

  /**
   * [[bruteTopK]] under a pluggable metric — the three standard
   * embedding-curation neighborhoods:
   *
   *  - `cosine`: dot/sqrt(n2·n2), rank DESC (double from exact int64
   *    sums — the [[Similarity]] determinism contract);
   *  - `dot`: the raw inner product, rank DESC — exact int64, the
   *    retrieval metric when norms carry signal (e.g. DPR-style
   *    embeddings);
   *  - `l2`: |q−t|² = n2(q) + n2(t) − 2·qdot, rank ASC — exact int64,
   *    the clustering/outlier metric ([[LabelAudit]]'s centroid
   *    distances use the same identity).
   *
   * Only the rank ORDER and the score expression differ; the plan
   * shape (broadcast queries, one corpus scan, WindowGroupLimit
   * bounding the rank shuffle at k rows per query per map task) is
   * identical across metrics. Ties break by t_id ASC everywhere.
   */
  def bruteTopKMetric(emb: DataFrame, queries: DataFrame, k: Int,
      metric: String = "cosine", id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val corpus = prepared(emb, id, vec).toDF("t_id", "t_q", "t_n2")
    val qs = prepared(queries, id, vec).toDF("q_id", "q_q", "q_n2")
    val base = corpus.crossJoin(broadcast(qs))
      .filter(col("q_id") =!= col("t_id"))
    val dot = qdot(col("q_q"), col("t_q"))
    val (scored, ord) = metric match {
      case "cosine" =>
        (base.withColumn("score", cosine(dot, col("q_n2"), col("t_n2"))),
          col("score").desc)
      case "dot" => (base.withColumn("score", dot), col("score").desc)
      case "l2" =>
        (base.withColumn("score",
          col("q_n2") + col("t_n2") - lit(2L) * dot), col("score").asc)
      case other => throw new IllegalArgumentException(
        s"metric must be cosine|dot|l2, got: $other")
    }
    val w = Window.partitionBy(col("q_id")).orderBy(ord, col("t_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("t_id"), col("rank").cast("long").as("rank"),
        col("score"))
  }

  /**
   * Brute top-k under the int8 storage frame: quantized vectors are
   * re-quantized to [-127, 127] by per-vector max-abs scaling
   * ([[graft.functions.Int8Vector]], exact integer arithmetic — the
   * DuckDB oracle reproduces every code) and ranked by the cosine of
   * the int8 codes. Same broadcast-queries / WindowGroupLimit plan as
   * [[bruteTopK]]; only the vector frame differs.
   */
  def int8TopK(emb: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    def prep(df: DataFrame, p: String) =
      df.select(col(id).as(s"${p}_id"),
          graft.functions.Int8Vector(quantize(col(vec))).as(s"${p}_q8"))
        .withColumn(s"${p}_n2", qnorm2(col(s"${p}_q8")))
    val base = prep(emb, "t").crossJoin(broadcast(prep(queries, "q")))
      .filter(col("q_id") =!= col("t_id"))
      .withColumn("cos8", cosine(qdot(col("q_q8"), col("t_q8")),
        col("q_n2"), col("t_n2")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos8").desc, col("t_id").asc)
    base.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("t_id"),
        col("rank").cast("long").as("rank"), col("cos8"))
  }

  /**
   * Storage-precision fidelity audit — what int8 vector compression
   * costs in ranking quality, priced the ext88/ext89 way as one audit
   * row: the full-precision top-k ([[bruteTopK]], the exact int64
   * frame) against [[int8TopK]] over the same queries. `overlap_ppm`
   * is rank-set agreement (|top-k ∩ top-k₈| / |top-k|); `mae_q9` the
   * mean |cos₈ − cos| over agreeing pairs in nano-units. Per-pair
   * error is floor-quantized to int64 BEFORE summing, so the mean is
   * exact integer arithmetic — no cross-row float accumulation to
   * diverge between engines. At 100 TB this audit runs on a sampled
   * query set against the corpus scan, like every detector audit
   * (ext54/57/61); the decision it prices is whether the vector store
   * ships 1 byte or 4 bytes per dimension.
   */
  def int8FidelityAudit(emb: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val full = bruteTopK(emb, queries, k, id, vec)
      .select(col("q_id"), col("t_id"), col("cos"))
    val i8 = int8TopK(emb, queries, k, id, vec)
      .select(col("q_id"), col("t_id"), col("cos8"))
    val totals = full.agg(
      countDistinct(col("q_id")).as("n_queries"),
      count(lit(1)).as("n_pairs"))
    val overlap = full.join(i8, Seq("q_id", "t_id"))
      .agg(count(lit(1)).as("n_overlap"),
        coalesce(sum(floor(abs(col("cos8") - col("cos")) * lit(1e9))
          .cast("long")), lit(0L)).as("_err_sum"))
    totals.crossJoin(broadcast(overlap))
      .withColumn("overlap_ppm",
        when(col("n_pairs") === 0, lit(0L))
          .otherwise(expr("(n_overlap * 1000000) DIV n_pairs")))
      .withColumn("mae_q9",
        when(col("n_overlap") === 0, lit(0L))
          .otherwise(expr("_err_sum DIV n_overlap")))
      .select("n_queries", "n_pairs", "n_overlap", "overlap_ppm", "mae_q9")
  }

  /**
   * Embedding norm sanity card per group (default: per label) — the
   * pre-ANN degeneracy audit: zero vectors make cosine NaN (they
   * poison every ranking silently), and a wide norm spread is the
   * evidence for choosing cosine vs dot as the retrieval metric
   * (ext90's knob). One codegen scan (quantize + qnorm2), one
   * |groups|-row aggregate; the n2 sum is carried in DECIMAL(38,0)
   * because per-vector n2 is ~dims·(scale·|v|)² and an int64 sum
   * overflows near ~10⁵ unit-norm vectors — the oracle's HUGEINT sum
   * agrees, and the floor-divided mean comes back to int64.
   */
  def normAudit(emb: DataFrame, by: Seq[String] = Seq("label"),
      vec: String = "embedding"): DataFrame =
    normAuditFromCounts(normAuditPartials(emb, by, vec))

  /** The card's per-group state — count / zero-count / min / max /
    * decimal sum, all commutative-mergeable, so each micro-batch (or
    * shard) contributes one |groups|-row partial and
    * [[normAuditFromCounts]] folds duplicates exactly; the batch
    * operator routes through the identical partial+fold tail, so the
    * streaming twin agrees by construction (the ext83 pattern). */
  def normAuditPartials(emb: DataFrame, by: Seq[String] = Seq("label"),
      vec: String = "embedding"): DataFrame =
    emb.select((by.map(col) :+
        qnorm2(quantize(col(vec))).as("n2")): _*)
      .groupBy(by.map(col): _*)
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0, 1L).otherwise(0L)).as("n_zero"),
        min("n2").as("min_n2"), max("n2").as("max_n2"),
        sum(col("n2").cast("decimal(38,0)")).as("sum_n2"))

  /** Fold of [[normAuditPartials]] into the ext95 card: duplicate
    * group keys merge (sum/sum/min/max/sum) BEFORE the mean division,
    * so the fold is exact at any batching/sharding. */
  def normAuditFromCounts(raw: DataFrame): DataFrame = {
    val vals = Set("n_vecs", "n_zero", "min_n2", "max_n2", "sum_n2")
    val keys = raw.columns.filterNot(vals).toSeq
    raw.groupBy(keys.map(col): _*)
      .agg(sum(col("n_vecs")).as("n_vecs"),
        sum(col("n_zero")).as("n_zero"),
        min(col("min_n2")).as("min_n2"),
        max(col("max_n2")).as("max_n2"),
        sum(col("sum_n2")).as("sum_n2"))
      .withColumn("avg_n2",
        floor(col("sum_n2") / col("n_vecs")).cast("long"))
      .drop("sum_n2")
  }

  /**
   * Hard-negative mining for contrastive/retrieval training: per query,
   * the top-k most-similar corpus items BELOW the near-duplicate
   * threshold — similar enough to be informative negatives, dissimilar
   * enough not to be latent positives (dedup-aware negative sampling;
   * mining negatives without the threshold poisons training with
   * unlabeled duplicates). Same broadcast-queries scan shape as
   * [[bruteTopK]]; the threshold filter runs BEFORE the rank, so
   * WindowGroupLimit still bounds the shuffle at k rows per query per
   * map task. At 100 TB, swap the exact scan for [[ivfTopK]]'s
   * bucket-restricted probe with an over-fetch — the filter+rank tail
   * is identical.
   */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int,
      dupThreshold: Double = NearDupThreshold, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val corpus = prepared(emb, id, vec).toDF("t_id", "t_q", "t_n2")
    val qs = prepared(queries, id, vec).toDF("q_id", "q_q", "q_n2")
    val scored = corpus.crossJoin(broadcast(qs))
      .filter(col("q_id") =!= col("t_id"))
      .withColumn("cos",
        cosine(qdot(col("q_q"), col("t_q")), col("q_n2"), col("t_n2")))
      .filter(col("cos") < dupThreshold)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("t_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("t_id"), col("rank").cast("long").as("rank"),
        col("cos"))
  }

  /**
   * IVF-style ANN: restrict the search to the query's coarse bucket
   * (here the `label` column plays the cluster-id role a k-means
   * assignment would at 100 TB). The join becomes an equi-join on the
   * bucket key — each query probes |corpus|/|buckets| candidates instead
   * of the full corpus.
   */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int,
      bucket: String = "label", id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val corpus = emb.select(col(id).as("t_id"), col(bucket).as("bucket"),
      quantize(col(vec)).as("t_q")).withColumn("t_n2", qnorm2(col("t_q")))
    val qs = queries.select(col(id).as("q_id"), col(bucket).as("bucket"),
      quantize(col(vec)).as("q_q")).withColumn("q_n2", qnorm2(col("q_q")))
    val scored = corpus.join(broadcast(qs), "bucket")
      .filter(col("q_id") =!= col("t_id"))
      .withColumn("cos",
        cosine(qdot(col("q_q"), col("t_q")), col("q_n2"), col("t_n2")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("t_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("t_id"), col("rank").cast("long").as("rank"),
        col("cos"))
  }

  /**
   * Deterministic k-means bucket construction — the real "build the IVF
   * coarse quantizer" step ([[ivfTopK]] consumes any bucket column; the
   * `label` default stands in where buckets already exist). Lloyd's
   * iterations over the QUANTIZED integer vectors with three determinism
   * rules, so the assignment is reproducible across engines, partition
   * layouts and reruns (and therefore DuckDB-oracle-checkable — rare for
   * k-means):
   *
   *  1. distance is exact int64 arithmetic: |a-c|² = n2(a) + n2(c) -
   *     2·qdot(a,c) — no float accumulation anywhere;
   *  2. centroid update floor-quantizes the per-dimension mean back to
   *     int64 (ONE double division per dim, then floor — identical in
   *     any engine), so the next round's distances are integer-exact
   *     again;
   *  3. seeds are the k lowest vec_ids; argmin ties break by centroid
   *     id ASC.
   *
   * One keyed shuffle per round for the update (posexplode → per-(cid,
   * dim) sum); assignment is a broadcast of k centroid rows — the
   * standard distributed-Lloyd shape. Per-dimension sums stay well under
   * 2^53 at test scale (quantized |v|≤~1e6 × cluster size); at larger
   * corpora aggregate the sums as DECIMAL before the division.
   */
  def kmeansBuckets(emb: DataFrame, k: Int = 8, iters: Int = 2,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val corpus = Reuse.shared(prepared(emb, id, vec).toDF("vid", "q", "n2"))
    assignArgmin(corpus, lloydCentroids(corpus, k, iters))
      .select(col("vid").as(id), col("cid").as("bucket"))
  }

  /**
   * Multi-probe IVF assignment: the `probes` CLOSEST centroids per
   * vector (probe_rank 1 = the [[kmeansBuckets]] argmin, identical
   * tie-break), from the same deterministic Lloyd's build. The corpus
   * is indexed under probe_rank 1 only; a QUERY probes all its ranks —
   * the production recall knob the ext57 audit prices (single-probe
   * finds 58% of exact top-3 at sf0.001; ext58 measures the multi-probe
   * recovery). Search cost scales linearly in `probes`; the plan shape
   * (broadcast queries, bucket equi-join) is unchanged.
   */
  def kmeansProbeBuckets(emb: DataFrame, k: Int = 8, iters: Int = 2,
      probes: Int = 2, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    require(probes >= 1 && probes <= k, "probes must be in [1, k]")
    val corpus = Reuse.shared(prepared(emb, id, vec).toDF("vid", "q", "n2"))
    val cents = lloydCentroids(corpus, k, iters)
    val w = Window.partitionBy(col("vid"))
      .orderBy(col("dist"), col("cid"))
    corpus.crossJoin(broadcast(cents))
      .withColumn("dist",
        col("n2") + col("cn2") - lit(2L) * qdot(col("q"), col("cq")))
      .withColumn("probe_rank", row_number().over(w))
      .filter(col("probe_rank") <= probes)
      .select(col("vid").as(id), col("cid").as("bucket"),
        col("probe_rank").cast("long").as("probe_rank"))
  }

  /**
   * Build-once IVF index (r5 verdict item 4): production builds the
   * coarse quantizer ONCE and then searches/audits it many times, but
   * the bench/verify contract runs every query in isolation — so the
   * four IVF consumers (ext28 build, ext31 search, ext57/58 recall
   * audits) each re-ran the same Lloyd's iteration (~4 builds per bench
   * pass). This memoizes the FINISHED probe assignment
   * `(id, bucket, probe_rank <= maxProbes)` — three int64 columns, never
   * the vectors, so the cached artifact is tiny at any corpus size — as
   * an eager `localCheckpoint` via [[Reuse.index]] (exempt from the
   * between-queries `freeAll`, exactly as a production index outlives
   * any one query; see the ledger there for lifecycle details).
   *
   * `probe_rank = 1` is bit-identical to [[kmeansBuckets]] (same argmin,
   * same (dist ASC, cid ASC) tie-break), so consumers needing the plain
   * assignment filter on it.
   */
  def kmeansProbeIndex(emb: DataFrame, cacheKey: String, k: Int = 8,
      iters: Int = 2, maxProbes: Int = 4, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    Reuse.index(emb.sparkSession,
      s"kmeans-probe:$cacheKey:$k:$iters:$maxProbes") {
      kmeansProbeBuckets(emb, k, iters, maxProbes, id, vec)
    }

  /** The stored coarse-quantizer artifact (cid, cq, cn2) behind
    * [[kmeansBuckets]]/[[kmeansProbeBuckets]] — exposed so a
    * STREAMING searcher can probe-assign arriving query vectors
    * ([[centroidProbes]]) without the assignment index, which only
    * covers the corpus snapshot (the prototypeCentroids/ext119
    * stored-artifact pattern). Same deterministic Lloyd's: for any
    * corpus member, centroidProbes off these centroids is
    * bit-identical to its kmeansProbeBuckets row. */
  def kmeansCentroids(emb: DataFrame, k: Int = 8, iters: Int = 2,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    lloydCentroids(
      Reuse.shared(prepared(emb, id, vec).toDF("vid", "q", "n2")), k, iters)

  /** Probe assignment of ARBITRARY vectors against stored centroids —
    * [[kmeansProbeBuckets]]' (dist ASC, cid ASC) ranking with the
    * Lloyd's build replaced by the artifact; one broadcast of the
    * k-row centroid frame, no corpus access. */
  def centroidProbes(vecs: DataFrame, cents: DataFrame, probes: Int,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    val w = Window.partitionBy(col("vid"))
      .orderBy(col("dist"), col("cid"))
    prepared(vecs, id, vec).toDF("vid", "q", "n2")
      .crossJoin(broadcast(cents))
      .withColumn("dist",
        col("n2") + col("cn2") - lit(2L) * qdot(col("q"), col("cq")))
      .withColumn("probe_rank", row_number().over(w))
      .filter(col("probe_rank") <= probes)
      .select(col("vid").as(id), col("cid").as("bucket"),
        col("probe_rank").cast("long").as("probe_rank"))
  }

  /** argmin assignment as min(struct(dist, cid)) — a map-side-combinable
    * hash aggregate with the same (dist ASC, cid ASC) tie-break the
    * row_number window would give, minus the window's sort exchange;
    * `q` is constant per vid, so first() is deterministic here. */
  private def assignArgmin(corpus: DataFrame, c: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(c))
      .withColumn("dist",
        col("n2") + col("cn2") - lit(2L) * qdot(col("q"), col("cq")))
      .groupBy(col("vid"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"),
        first(col("q")).as("q"))
      .select(col("vid"), col("m.cid").as("cid"), col("q"))

  /** The shared deterministic Lloyd's loop (see [[kmeansBuckets]]'s
    * determinism rules): returns the final centroid relation
    * (cid, cq, cn2). */
  private def lloydCentroids(corpus: DataFrame, k: Int,
      iters: Int): DataFrame = {
    var cents = corpus.orderBy(col("vid")).limit(k)
      .select(col("vid").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    (1 to iters).foreach { _ =>
      val a = assignArgmin(corpus, cents)
      cents = a.select(col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .withColumn("cv",
          floor(col("s").cast("double") / col("n")).cast("long"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("cv")))), x => x.getField("cv")).as("cq"))
        .withColumn("cn2", qnorm2(col("cq")))
    }
    cents
  }

  /** Hyperplane signatures support embeddings up to this many dims; the
    * per-hyperplane weight literal is sliced to the row's actual size. */
  val MaxSigDims = 1024

  /** ±1 weight vector of pseudo-random hyperplane `j` in family `seed`:
    * weight of dim i = ±1 from bit (j mod 31) of the portable hash of
    * "<seed><j>:<i>". DETERMINISTIC, so computed once at plan-build time
    * ([[Hashing.portableHash32Local]]) and inlined as a literal array —
    * the runtime does one multiply-add per dim, no per-row hashing; the
    * DuckDB oracle recomputes the same weights from md5 bit-for-bit. */
  private def planeWeights(seed: String, j: Int): Seq[Long] =
    (0 until MaxSigDims).map { i =>
      if (((Hashing.portableHash32Local(s"$seed$j:$i") >> (j % 31)) & 1L) == 0L)
        1L else -1L
    }

  /** Sign-bit signature from `nBits` pseudo-random hyperplanes
    * ([[planeWeights]] family "hp"). */
  def hyperplaneSignature(q: Column, nBits: Int): Column = {
    val bits = (0 until nBits).map { j =>
      val proj = qdot(q, slice(typedLit(planeWeights("hp", j)), lit(1), size(q)))
      when(proj > 0, lit(1L) * (1L << j)).otherwise(lit(0L))
    }
    // A vector wider than the weight table would silently project onto a
    // truncated prefix (wrong buckets downstream) — fail loudly instead.
    // NULL embeddings keep their pre-guard behavior (signature 0 via
    // null-propagating projections), hence the coalesce: a raw
    // `size(q) <= max` is NULL for them and would take the error branch.
    when(coalesce(size(q), lit(0)) <= MaxSigDims, bits.reduce(_ + _))
      .otherwise(raise_error(concat(
        lit(s"hyperplaneSignature supports at most $MaxSigDims dims, got "),
        size(q).cast("string"))))
  }

  /**
   * Deterministic random-projection compression: `outDims` signed-sum
   * projections of the quantized vector using the plan-time ±1 weights
   * of [[planeWeights]] (family "rp", independent of the "hp" signature
   * family). Johnson-Lindenstrauss-style: inner products are preserved
   * in expectation, so the 4×-smaller int64 vectors are what an ANN
   * index stores and scans at 100 TB (each projection is one fused
   * [[qdot]] multiply-add pass; the whole row stays in one
   * WholeStageCodegen projection — no shuffle, no per-row hashing).
   * Exact integer arithmetic end to end ⇒ oracle-checkable.
   */
  /**
   * Top principal direction by fixed-point power iteration — PCA's
   * workhorse step over the embedding corpus (the whitening / SemDeDup
   * preprocessing primitive): the dominant eigendirection of the
   * UNCENTERED second moment Σ xxᵀ (embedding pipelines L2-normalize,
   * so the top singular direction is what consumers want; center
   * upstream for classical PCA). Never materializes the d×d matrix:
   * each round computes (Σ xxᵀ)·v as Σ_n x_n·(x_n·v) in ONE corpus
   * scan — per vector the broadcast-literal dot, then a posexplode
   * into a 64-key map-side-combined groupBy. All fixed-point integer
   * (the textrank discipline, so the oracle replays every round
   * bit-for-bit): vectors are the ext93 ppm quantization; the dot
   * drops to units via sign-managed DIV 10⁶ (trunc == floor on the
   * managed absolute value — the engine-portability rule for signed
   * division); per-dim accumulators ride decimal(38,0)/HUGEINT (N·q·
   * dot_unit leaves int64 at corpus scale — the ext152 lesson); the
   * round's iterate L∞-normalizes on the DRIVER in exact BigInt (64
   * values — a bounded artifact, the selectionQuantiles probe-row
   * precedent), sign-pinned so the smallest dim attaining max |y| is
   * positive (deterministic up to nothing). Output: the `iters`-round
   * iterate (dim, v_ppm), pivot dim at exactly ±10⁶ — a DEFINED
   * fixed-round card like textrank, not a convergence claim.
   *
   * Scale shape: `iters` corpus scans (flat Reuse.shared once), zero
   * joins, zero corpus-sized shuffles — each round moves 64 decimal
   * rows. Driver state: 64 longs.
   */
  def pcaPowerDirection(emb: DataFrame, iters: Int = 3,
      vec: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    val qv = graft.ops.Reuse.shared(
      emb.select(quantize(col(vec)).as("qv")))
    // Derive the embedding dimension from the corpus (ONE bounded
    // aggregate row on the shared cached relation — the
    // selectionQuantiles probe-row precedent), never assume it: a
    // hard-coded width makes zip_with null-pad any ≠width corpus and
    // the driver map dies as an opaque NPE. Ragged corpora are
    // rejected loudly (the hyperplaneSignature discipline); an empty
    // (or all-null) corpus keeps the defined 64-dim seed card.
    val dimRow = qv.agg(
      min(size(col("qv"))).as("lo"), max(size(col("qv"))).as("hi")).first()
    val dims =
      if (dimRow.isNullAt(0)) 64
      else {
        val (lo, hi) = (dimRow.getInt(0), dimRow.getInt(1))
        require(lo == hi, "pcaPowerDirection requires a fixed embedding " +
          s"dimension; corpus widths span [$lo, $hi]")
        require(lo > 0, "pcaPowerDirection: zero-width embeddings")
        lo
      }
    var v: Array[Long] = Array.fill(dims)(1000000L)
    for (_ <- 1 to iters) {
      val vLit = array(v.map(lit(_)): _*)
      val y = qv
        .withColumn("dot", aggregate(
          zip_with(col("qv"), vLit, (a, b) => a * b),
          lit(0L), (s, x) => s + x))
        .withColumn("du", expr(
          "CASE WHEN dot < 0 THEN -((-dot) DIV 1000000) " +
            "ELSE dot DIV 1000000 END"))
        .select(col("du"), posexplode(col("qv")).as(Seq("i0", "qi")))
        .groupBy("i0")
        .agg(sum(expr("cast(qi as decimal(38,0)) * du")).as("y"))
        .collect()
        .map(r => (r.getInt(0), BigInt(r.getDecimal(1).toBigInteger)))
        .sortBy(_._1)
        .map(_._2)
      // empty corpus: no y rows — the iterate stays at the seed (a
      // defined card, the EmptyInputSpec convention)
      if (y.nonEmpty) {
        val m = y.map(_.abs).max
        val pivot = y.indexWhere(_.abs == m)
        val flip =
          if (pivot >= 0 && y(pivot) < 0) BigInt(-1) else BigInt(1)
        val mSafe = if (m > 0) m else BigInt(1)
        v = y.map(yi =>
          ((flip * yi.sign) * ((yi.abs * 1000000) / mSafe)).toLong)
      }
    }
    import spark.implicits._
    v.zipWithIndex
      .map { case (vp, i0) => ((i0 + 1).toLong, vp) }.toSeq
      .toDF("dim", "v_ppm")
  }

  def randomProject(emb: DataFrame, outDims: Int = 16,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val projs = (0 until outDims).map { j =>
      qdot(col("q"), slice(typedLit(planeWeights("rp", j)), lit(1),
        size(col("q"))))
    }
    emb.select(col(id), quantize(col(vec)).as("q"))
      .select(col(id),
        when(coalesce(size(col("q")), lit(0)) <= MaxSigDims,
          array(projs: _*))
          .otherwise(raise_error(concat(
            lit(s"randomProject supports at most $MaxSigDims dims, got "),
            size(col("q")).cast("string")))).as("proj"))
  }

  /**
   * Random-hyperplane LSH bucketing (scale path, non-oracle): candidates
   * share the full [[hyperplaneSignature]] bucket; exact cosine re-ranks
   * within the bucket.
   */
  def lshTopK(emb: DataFrame, queries: DataFrame, k: Int, nBits: Int = 8,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val corpus = prepared(emb, id, vec).toDF("t_id", "t_q", "t_n2")
      .withColumn("sig", hyperplaneSignature(col("t_q"), nBits))
    val qs = prepared(queries, id, vec).toDF("q_id", "q_q", "q_n2")
      .withColumn("sig", hyperplaneSignature(col("q_q"), nBits))
    val scored = corpus.join(broadcast(qs), "sig")
      .filter(col("q_id") =!= col("t_id"))
      .withColumn("cos",
        cosine(qdot(col("q_q"), col("t_q")), col("q_n2"), col("t_n2")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("t_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("t_id"), col("rank").cast("long").as("rank"),
        col("cos"))
  }

  /**
   * Embedding-cosine near-dup pairs — the dedup counterpart of [[lshTopK]]:
   * BANDED random-hyperplane LSH (MinHash-banding shape: agree on ANY band
   * of `bandBits` consecutive signature bits ⇒ candidate), then exact
   * quantized cosine verifies `cos >= threshold`. Banding trades candidate
   * volume for recall the way a full-signature match cannot: at 100 TB the
   * knobs are (nBits, bandBits) — more bands = higher recall, wider bands
   * = fewer candidates — while the self-join stays an equi-join on
   * (band_id, band), never all-pairs.
   */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double = NearDupThreshold,
      nBits: Int = 16, bandBits: Int = 4,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(nBits % bandBits == 0, "nBits must be a multiple of bandBits")
    val nBands = nBits / bandBits
    val mask = (1L << bandBits) - 1
    // One row per vector, consumed by both band sides and both verify
    // sides — eagerly materialized (see [[graft.ops.Reuse]]).
    val sigd = Reuse.shared(prepared(emb, id, vec).toDF("vid", "q", "n2")
      .withColumn("sig", hyperplaneSignature(col("q"), nBits)))
    val banded = sigd
      .select(col("vid"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band_id"), col("sig"))
      .withColumn("band",
        expr(s"shiftright(sig, CAST(band_id * $bandBits AS INT)) & $mask"))
      .select("vid", "band_id", "band")
    val cand = banded.toDF("id_a", "band_id", "band")
      .join(banded.toDF("id_b", "band_id", "band"), Seq("band_id", "band"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sigd.select(col("vid").as("id_a"), col("q").as("q_a"),
        col("n2").as("n2_a")), "id_a")
      .join(sigd.select(col("vid").as("id_b"), col("q").as("q_b"),
        col("n2").as("n2_b")), "id_b")
      .withColumn("cos",
        cosine(qdot(col("q_a"), col("q_b")), col("n2_a"), col("n2_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
   * deduplication in embedding space — partition the corpus with the
   * deterministic k-means coarse quantizer, then WITHIN each cluster
   * drop every vector whose exact cosine to a LOWER-id cluster-mate
   * reaches `threshold`. The keep-lowest-index convention is the
   * paper's own implementation (upper-triangular max-sim test), so no
   * transitive closure is needed: each drop decision reads pairs, not
   * components — unlike the shingle-dedup keeper chain (ext27/47),
   * which follows the LSH pair GRAPH.
   *
   * This is the embedding-space sibling of [[cosineNearDupPairs]] with
   * a LEARNED partitioning instead of random hyperplanes: candidates
   * are cluster-mates, so recall is bounded by the quantizer (two
   * near-dups split across a centroid boundary are missed — the
   * [[kmeansProbeBuckets]] multi-probe assignment is the recall knob,
   * priced by ext58's curve; cluster balance priced by ext60).
   *
   * Scale shape: the pair join is an equi-join keyed on `bucket` —
   * O(Σ|bucket|²) comparisons instead of n², the entire point of the
   * method at 100 TB: k grows with the corpus so bucket size stays
   * bounded (the paper runs k=50k over 5B docs), and the join shuffles
   * each vector once per side. `buckets` is the build-once index
   * artifact ([[kmeansProbeIndex]]), three int64 columns.
   *
   * Returns one row per vector: (id, bucket, kept 1|0) — the kept
   * corpus is `kept = 1`; the card is a group-by away.
   */
  def semDedup(emb: DataFrame, buckets: DataFrame,
      threshold: Double = NearDupThreshold, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    // One row per vector (id, quantized vec, norm2, bucket), consumed by
    // both pair sides and the output listing — materialized once.
    val corpus = Reuse.shared(prepared(emb, id, vec).toDF("vid", "q", "n2")
      .join(buckets.toDF("vid", "bucket"), "vid"))
    val dropped = semDedupPairsOf(corpus, threshold)
      .select(col("id_b").as("vid")).distinct()
    corpus.join(dropped.withColumn("_drop", lit(1)), Seq("vid"), "left")
      .select(col("vid").as(id), col("bucket"),
        when(col("_drop").isNull, 1L).otherwise(0L).as("kept"))
  }

  /**
   * Multi-probe SemDeDup — ext110's measured recovery knob made
   * TURNABLE in the operator itself (r10 verdict item 5): each vector
   * joins the pair test in its `probes` nearest centroid buckets
   * ([[kmeansProbeBuckets]]' assignment), so a near-dup pair split
   * across a centroid boundary is still compared whenever ANY bucket
   * is probed by BOTH sides. Pair decisions dedup across replicas (a
   * pair sharing two probed buckets is one decision — the drop set is
   * a distinct id set), and each vector reports under its rank-1
   * (home) bucket, so the output shape is [[semDedup]]'s exactly.
   * `probes = 1` is bit-identical to [[semDedup]] (SimilaritySpec
   * law).
   *
   * Cost/recall: the within-bucket pair join sees each vector up to
   * `probes` times per side (ext110's ×p pricing); the recall
   * recovered is exactly ext109's measured centroid-boundary miss
   * mass — at p = 4 the audit corpus reads 100% (ext110's curve, and
   * the spec asserts the OPERATOR reaches it: every exact all-pairs
   * near-dup's higher id is dropped at p = 4).
   */
  def semDedupProbed(emb: DataFrame, probeIndex: DataFrame,
      probes: Int = 1, threshold: Double = NearDupThreshold,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(probes >= 1, s"probes must be >= 1, got: $probes")
    val prep = Reuse.shared(prepared(emb, id, vec).toDF("vid", "q", "n2"))
    val replicas = prep.join(
      probeIndex.filter(col("probe_rank") <= probes)
        .select(col(id).as("vid"), col("bucket")), "vid")
    val dropped = semDedupPairsOf(replicas, threshold)
      .select(col("id_b").as("vid")).distinct()
    prep.join(probeIndex.filter(col("probe_rank") === 1)
        .select(col(id).as("vid"), col("bucket")), "vid")
      .join(dropped.withColumn("_drop", lit(1)), Seq("vid"), "left")
      .select(col("vid").as(id), col("bucket"),
        when(col("_drop").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** The cluster-mate near-dup pair relation behind [[semDedup]]:
    * (id_a < id_b, cos) for same-bucket pairs at/above the threshold —
    * exposed so the recall audit (ext109) can price the bucket
    * restriction against exact all-pairs truth. */
  def semDedupPairs(emb: DataFrame, buckets: DataFrame,
      threshold: Double = NearDupThreshold, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    semDedupPairsOf(prepared(emb, id, vec).toDF("vid", "q", "n2")
      .join(buckets.toDF("vid", "bucket"), "vid"), threshold)

  private def semDedupPairsOf(corpus: DataFrame,
      threshold: Double): DataFrame = {
    val a = corpus.select(col("vid").as("id_a"), col("q").as("q_a"),
      col("n2").as("n2_a"), col("bucket"))
    val b = corpus.select(col("vid").as("id_b"), col("q").as("q_b"),
      col("n2").as("n2_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        cosine(qdot(col("q_a"), col("q_b")), col("n2_a"), col("n2_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /**
   * SemDeDup detector audit — prices the kmeans-bucket restriction the
   * way ext54/65/88 price every other approximate detector: truth =
   * ALL pairs at/above the cosine threshold (exact all-pairs — the
   * audit runs at sampled/audit scale, as a production pipeline
   * audits a shard, not the corpus); detected = the same-bucket pairs
   * [[semDedup]] sees. The miss mass is exactly the near-dup pairs
   * split across a centroid boundary — the multi-probe assignment
   * (ext58's curve) is the recovery knob.
   */
  def semDedupRecallAudit(emb: DataFrame, buckets: DataFrame,
      threshold: Double = NearDupThreshold, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val corpus = Reuse.shared(prepared(emb, id, vec).toDF("vid", "q", "n2"))
    val a = corpus.toDF("id_a", "q_a", "n2_a")
    val b = corpus.toDF("id_b", "q_b", "n2_b")
    val truth = a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        cosine(qdot(col("q_a"), col("q_b")), col("n2_a"), col("n2_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b")
    val cand = semDedupPairsOf(
      corpus.toDF("vid", "q", "n2").join(buckets.toDF("vid", "bucket"),
        "vid"), threshold)
    Dedup.pairRecall(truth, cand)
  }

  /**
   * SemDeDup multi-probe recall curve — ext109's recovery knob
   * MEASURED (ext58's discipline for the search path, applied to the
   * dedup path): at probe level p each vector is replicated into its p
   * nearest centroid buckets ([[kmeansProbeBuckets]]' assignment), and
   * a true near-dup pair is detected iff some bucket is probed by BOTH
   * sides. p = 1 is exactly [[semDedupRecallAudit]]'s single-bucket
   * detector (the curves' first row must equal ext109's card —
   * spec-asserted); detection cost grows ×p per side while recall
   * recovers the centroid-boundary misses. Truth is the exact
   * all-pairs relation, computed once and reused across the curve.
   */
  def semDedupProbeCurve(emb: DataFrame, probeIndex: DataFrame,
      probes: Seq[Int], threshold: Double = NearDupThreshold,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val corpus = Reuse.shared(prepared(emb, id, vec).toDF("vid", "q", "n2"))
    val a = corpus.toDF("id_a", "q_a", "n2_a")
    val b = corpus.toDF("id_b", "q_b", "n2_b")
    val truth = Reuse.shared(a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        cosine(qdot(col("q_a"), col("q_b")), col("n2_a"), col("n2_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b"))
    probes.map { p =>
      val bk = probeIndex.filter(col("probe_rank") <= p)
      val det = truth
        .join(bk.select(col(id).as("id_a"), col("bucket")), "id_a")
        .join(bk.select(col(id).as("id_b"), col("bucket")),
          Seq("id_b", "bucket"))
        .select("id_a", "id_b").distinct()
      Dedup.pairRecall(truth, det).withColumn("probes", lit(p.toLong))
    }.reduce(_ unionByName _)
      .select("probes", "n_true", "n_detected", "recall_q")
      .orderBy("probes")
  }

  /**
   * Cluster-prototypicality pruning (Sorscher et al. 2022, "Beyond
   * neural scaling laws", arXiv:2206.14486 — the SSL-prototypes
   * metric): score every vector by its exact integer distance to its
   * OWN cluster's centroid, percent-rank the scores WITHIN the
   * cluster, and keep the configured fraction — `keep = "easy"` keeps
   * the most prototypical members (the paper's prescription for small
   * datasets), `keep = "hard"` the least prototypical (its
   * prescription for large corpora, where easy examples are the
   * redundant mass). The within-cluster rank is what makes the knob
   * corpus-calibrated: no global distance threshold exists across
   * clusters of different tightness (the ext116 rationale, applied in
   * embedding space).
   *
   * `buckets` is the stored coarse-quantizer assignment
   * ([[kmeansProbeIndex]] rank 1 — the same build-once artifact the
   * IVF/SemDeDup family reads). The centroid is the floor-quantized
   * per-dimension mean of the bucket's MEMBERS (the [[kmeansBuckets]]
   * update rule — integer-exact, engine-portable); distance is the
   * exact |v−c|² identity. kept = 1 iff proto_ppm < keepPpm ("easy")
   * or proto_ppm ≥ 1e6 − keepPpm ("hard"); singletons read
   * proto_ppm 0.
   *
   * Scale shape: one posexplode shuffle builds |buckets| centroids
   * (map-side combined), the scoring scan is a broadcast join, and
   * the percent-rank is one sort per bucket — the exact-rank price
   * ([[Sampling.rankNormalize]]'s accepted shape; hash-sampled
   * approximate ranks are the at-scale alternative when the keep
   * boundary can be fuzzy).
   */
  def prototypePruning(emb: DataFrame, buckets: DataFrame,
      keepPpm: Long = 500000L, keep: String = "easy",
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(keep == "easy" || keep == "hard",
      s"keep must be easy|hard, got: $keep")
    require(keepPpm >= 0L && keepPpm <= 1000000L,
      s"keepPpm must be in [0, 1e6], got: $keepPpm")
    val corpus = prepared(emb, id, vec).toDF("vid", "q", "n2")
      .join(buckets.toDF("vid", "bucket"), "vid")
    val cents = bucketCentroidsOf(corpus)
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("dist").asc, col("vid").asc)
    val nw = Window.partitionBy(col("bucket"))
    val scored = corpus.join(broadcast(cents), "bucket")
      .withColumn("dist",
        col("n2") + col("cn2") - lit(2L) * qdot(col("q"), col("cq")))
      .withColumn("_rk", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(nw))
      .withColumn("proto_ppm",
        when(col("_n") === 1L, 0L)
          .otherwise(expr("((_rk - 1) * 1000000) DIV (_n - 1)")))
    val keptCond =
      if (keep == "easy") col("proto_ppm") < keepPpm
      else col("proto_ppm") >= lit(1000000L - keepPpm)
    scored.select(col("vid").as(id), col("bucket"), col("dist"),
      col("proto_ppm"), when(keptCond, 1L).otherwise(0L).as("kept"))
  }

  /**
   * Semantic test-set decontamination — the embedding-space member of
   * the decontamination family (lexical span surgery ext97, Bloom
   * membership ext102): a corpus vector whose cosine to ANY benchmark
   * vector reaches `threshold` is a paraphrase-level leak that token
   * n-grams miss (the reason eval suites decontaminate semantically as
   * well as lexically). One row per corpus vector: its nearest
   * benchmark item, the max cosine, and the flag — so the output
   * doubles as the removal list AND the audit trail (which bench item
   * each leak matches).
   *
   * Scale shape: the benchmark side is broadcast (eval suites are
   * tiny); ONE corpus scan computes all |bench| cosines per vector and
   * the argmax folds map-side (min over (−cos, bench id) struct — no
   * window, no shuffle of the corpus beyond the aggregate). Exact
   * int64 dots; the argmax tie-breaks (cos DESC, bench id ASC). Each
   * row depends only on its vector and the fixed bench set, so the
   * streaming twin (ext122's ingest side) flags each micro-batch with
   * no cross-batch state.
   */
  def semanticDecontaminate(emb: DataFrame, bench: DataFrame,
      threshold: Double = NearDupThreshold, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val corpus = prepared(emb, id, vec).toDF("vid", "q", "n2")
    val b = prepared(bench, id, vec).toDF("bid", "bq", "bn2")
    // LEFT cross join, not crossJoin: an EMPTY bench side must still
    // yield one row per corpus vector (bench_id/max_cos null,
    // contaminated = 0), not an empty frame a downstream sink could
    // mistake for "nothing contaminated, rows lost" (r9 ADVICE). The
    // aggregate's min(when(...)) ignores the null-padded rows, so the
    // non-empty-bench output is byte-identical to the old crossJoin.
    corpus.join(broadcast(b), lit(true), "left")
      .withColumn("cos", when(col("bid").isNotNull,
        cosine(qdot(col("q"), col("bq")), col("n2"), col("bn2"))))
      .groupBy(col("vid"))
      .agg(min(when(col("bid").isNotNull,
        struct((-col("cos")).as("negcos"),
          col("bid").as("bid")))).as("m"))
      .select(col("vid").as(id), col("m.bid").as("bench_id"),
        (-col("m.negcos")).as("max_cos"),
        when(-col("m.negcos") >= threshold, 1L).otherwise(0L)
          .as("contaminated"))
  }

  /** The per-bucket centroid artifact behind [[prototypePruning]] —
    * (bucket, cq, cn2), the floor-quantized member-mean — exposed so
    * the streaming gate scores against the STORED build instead of
    * recomputing it (the labelCentroids/ext83 artifact pattern). */
  def prototypeCentroids(emb: DataFrame, buckets: DataFrame,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    bucketCentroidsOf(prepared(emb, id, vec).toDF("vid", "q", "n2")
      .join(buckets.toDF("vid", "bucket"), "vid"))

  /** Floor-quantized member-mean centroid per bucket of a prepared
    * (vid, q, n2, bucket) corpus — the kmeans update rule as a
    * standalone step, shared by [[prototypePruning]] and the stored
    * [[prototypeCentroids]] artifact. */
  private def bucketCentroidsOf(corpus: DataFrame): DataFrame =
    corpus
      .select(col("bucket"), posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("bucket", "pos")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .withColumn("cv",
        floor(col("s").cast("double") / col("n")).cast("long"))
      .groupBy("bucket")
      .agg(transform(array_sort(collect_list(struct(col("pos"),
        col("cv")))), x => x.getField("cv")).as("cq"))
      .withColumn("cn2", qnorm2(col("cq")))

  /** Per-bucket keep-boundary artifact off a [[prototypePruning]]
    * result: the extreme kept distance per bucket (max for "easy",
    * min for "hard") — |buckets| rows, stored beside the centroids.
    * Buckets where nothing was kept are absent (the gate then drops
    * everything routed to them, consistent with the batch pass). */
  def prototypeThresholds(pruned: DataFrame,
      keep: String = "easy"): DataFrame = {
    require(keep == "easy" || keep == "hard")
    val kept = pruned.filter(col("kept") === 1L)
    if (keep == "easy")
      kept.groupBy("bucket").agg(max("dist").as("thresh_dist"))
    else kept.groupBy("bucket").agg(min("dist").as("thresh_dist"))
  }

  /**
   * Stateless prototype GATE — the streaming/ingest side of
   * [[prototypePruning]]: an arriving vector is assigned to its
   * nearest STORED centroid (the coarse-quantizer assign step — same
   * exact-int64 argmin and (dist, bucket) tie-break as
   * [[kmeansBuckets]]), its distance compared against the bucket's
   * stored keep boundary. Per row: (id, bucket, dist, kept). No
   * state, no ranks — a percentile is a corpus-snapshot property
   * (ext116's rationale), so the stream applies the SNAPSHOT's
   * learned boundary (the ext67 stored-threshold pattern), refreshed
   * when the offline pass rebuilds the artifacts.
   *
   * Two documented boundary caveats vs the batch pass: a distance
   * exactly AT a threshold tie shared with a dropped row gates in
   * (the batch rank split such ties by id); and a vector near a
   * centroid boundary may assign differently than the snapshot's
   * stored bucket (quantizer half-step drift). On well-separated
   * clusters the gate reproduces the batch keep set exactly
   * (spec-asserted).
   */
  def prototypeGate(vecs: DataFrame, cents: DataFrame,
      thresholds: DataFrame, keep: String = "easy",
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(keep == "easy" || keep == "hard")
    val assigned = prepared(vecs, id, vec).toDF("vid", "q", "n2")
      .crossJoin(broadcast(cents))
      .withColumn("d",
        col("n2") + col("cn2") - lit(2L) * qdot(col("q"), col("cq")))
      .groupBy(col("vid"))
      .agg(min(struct(col("d"), col("bucket"))).as("m"))
      .select(col("vid"), col("m.bucket").as("bucket"),
        col("m.d").as("dist"))
    val cond =
      if (keep == "easy") col("dist") <= col("thresh_dist")
      else col("dist") >= col("thresh_dist")
    assigned.join(broadcast(thresholds), Seq("bucket"), "left")
      .select(col("vid").as(id), col("bucket"), col("dist"),
        when(col("thresh_dist").isNotNull && cond, 1L).otherwise(0L)
          .as("kept"))
  }

  /**
   * kNN-density outlier card — embedding-space density pruning: per
   * vector, the count/mean/max of the exact integer L2 distances to
   * its k nearest CLUSTER-MATES. Low mean = dense (redundant)
   * neighborhood, the mass near-dup detectors thin; a max that dwarfs
   * the cluster's typical distance = isolated point (mislabel, OOD,
   * garbage embedding — what [[LabelAudit.labelCentroidOutliers]]
   * sees only when the cluster HAS a coherent centroid).
   *
   * The candidate restriction to the stored coarse bucket is the
   * production shape, not a shortcut (the [[semDedup]] argument: the
   * pair join is an equi-join on `bucket`, O(Σ|bucket|²), never
   * corpus² — and k grows with the corpus so bucket size stays
   * bounded); boundary-split neighborhoods are the same recall story
   * the ext58/110 probe curves price. Vectors in buckets with fewer
   * than k+1 members report their actual neighbor count — visible,
   * not padded — and a vector ALONE in its bucket (the ultimate
   * outlier) still emits a row: n_neighbors 0 with NULL distances,
   * never silently dropped. Exact int64 distances; ranks tie-break
   * (dist ASC, neighbor id ASC); the mean is integer DIV.
   */
  def knnDensity(emb: DataFrame, buckets: DataFrame, k: Int = 5,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val corpus = Reuse.shared(prepared(emb, id, vec).toDF("vid", "q", "n2")
      .join(buckets.toDF("vid", "bucket"), "vid"))
    val nbrs = corpus.toDF("nid", "nq", "nn2", "bucket")
    val w = Window.partitionBy(col("vid"))
      .orderBy(col("dist").asc, col("nid").asc)
    val agg = corpus.join(nbrs, "bucket")
      .filter(col("vid") =!= col("nid"))
      .withColumn("dist",
        col("n2") + col("nn2") - lit(2L) * qdot(col("q"), col("nq")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy(col("vid"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(col("dist")).as("_sd"),
        max(col("dist")).as("knn_max_dist"))
      .withColumn("knn_mean_dist", expr("_sd DIV n_neighbors"))
    corpus.select(col("vid"))
      .join(agg, Seq("vid"), "left")
      .select(col("vid").as(id),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        col("knn_mean_dist"), col("knn_max_dist"))
  }

  /**
   * Hierarchical IVF bucket split/rebalance — the operator form of the
   * documented quadratic-bucket hazard's production answer (r9 verdict
   * item 1): every same-bucket pair consumer ([[semDedup]],
   * [[knnDensity]]) is O(Σ|bucket|²), so a coarse quantizer whose hot
   * bucket grows with the corpus (mass duplication at fixed k) turns
   * linear passes quadratic. This re-runs the SAME deterministic
   * Lloyd's WITHIN every bucket exceeding `maxBucket` — all oversized
   * buckets re-clustered in ONE grouped dataflow, never a driver-side
   * loop over buckets — and emits a composite id, so consumers take
   * the rebalanced assignment completely unchanged.
   *
   * Composite encoding (collision-free by construction): a KEPT bucket
   * b maps to `b * split`; a split parent p's child of dense rank
   * r < split maps to `p * split + r`. Kept-vs-child ids can only
   * collide at r = 0 with b = p, and p is split (not kept); child ids
   * collide only within one parent, where the dense rank is unique.
   * Bucket ids are opaque labels downstream (join/group keys), so the
   * uniform rescale is invisible to consumers. Requires
   * |bucket id| < Long.Max / split (bucket ids are seed vids).
   *
   * The output is a plain (id, bucket) assignment, so the operator
   * COMPOSES with itself: children still exceeding the cap (an
   * identical-vector family larger than `maxBucket` is unsplittable —
   * every copy has the same distance to every child centroid; that
   * floor is exact dedup's job, ext87's composition) are handled by
   * re-application, each level multiplying the id by `split` again.
   *
   * Scale shape: bucket sizes are one keyed count; the seed pick is
   * row_number ≤ split per bucket (WindowGroupLimit — a per-partition
   * heap, not a full sort); each Lloyd's round is one broadcast join
   * against the (|oversized| × split)-row centroid frame plus two
   * keyed aggregates — the [[lloydCentroids]] cost profile with
   * `bucket` added to every key. Nothing is all-pairs.
   */
  def splitOversizedBuckets(emb: DataFrame, buckets: DataFrame,
      maxBucket: Long, split: Int = 2, iters: Int = 2,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(maxBucket >= 1, "maxBucket must be >= 1")
    require(split >= 2, "split factor must be >= 2")
    val corpus = Reuse.shared(prepared(emb, id, vec).toDF("vid", "q", "n2")
      .join(buckets.toDF("vid", "bucket"), "vid"))
    val over = corpus.groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > maxBucket).select("bucket")
    val members = corpus.join(broadcast(over), "bucket")
    // Within-bucket seeds: the `split` smallest DISTINCT-VECTOR
    // representatives (min vid per distinct quantized vector, then the
    // `split` smallest of those) — the per-bucket twin of
    // lloydCentroids' orderBy(vid).limit(k), hardened against
    // mass duplication (r13): seeding by raw smallest vids picks
    // IDENTICAL vectors when a duplicate family holds the low ids,
    // every child centroid coincides, argmin ties send ALL members to
    // child 0 and the split stalls FOREVER (spec-proved on an
    // identical-family fixture). Distinct-vector seeds restore
    // progress whenever the bucket holds ≥ 2 distinct vectors; a
    // bucket that IS one identical family stays unsplittable — that
    // floor is exact dedup's job (the ext87 composition). Orthogonal
    // and accepted: low-vid seeds are arbitrarily PLACED, so a dense
    // child can shrink well below 1/split per level (the 100× smoke's
    // measured ~/1.6 at split=4) — callers chasing a hard cap either
    // widen `split` or re-apply more levels (EXPLAINS r13 prices
    // both).
    val seedW = Window.partitionBy(col("bucket")).orderBy(col("vid"))
    val reps = members.groupBy(col("bucket"), col("q"))
      .agg(min(col("vid")).as("vid"), first(col("n2")).as("n2"))
    var cents = reps.withColumn("rn", row_number().over(seedW))
      .filter(col("rn") <= split)
      .select(col("bucket"), col("vid").as("ccid"), col("q").as("cq"),
        col("n2").as("cn2"))
    // assignArgmin with `bucket` joined into the key: each member
    // competes only against its own parent's child centroids.
    def assignSub(c: DataFrame): DataFrame =
      members.join(broadcast(c), Seq("bucket"))
        .withColumn("dist",
          col("n2") + col("cn2") - lit(2L) * qdot(col("q"), col("cq")))
        .groupBy(col("vid"))
        .agg(min(struct(col("dist"), col("ccid"))).as("m"),
          first(col("bucket")).as("bucket"), first(col("q")).as("q"))
        .select(col("vid"), col("bucket"), col("m.ccid").as("ccid"),
          col("q"))
    (1 to iters).foreach { _ =>
      val a = assignSub(cents)
      cents = a.select(col("bucket"), col("ccid"),
          posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("bucket", "ccid", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .withColumn("cv",
          floor(col("s").cast("double") / col("n")).cast("long"))
        .groupBy("bucket", "ccid")
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("cv")))), x => x.getField("cv")).as("cq"))
        .withColumn("cn2", qnorm2(col("cq")))
    }
    // Dense child rank off the FINAL surviving centroid set (tiny:
    // |oversized| x split rows), ordered by ccid for determinism.
    val rankW = Window.partitionBy(col("bucket")).orderBy(col("ccid"))
    val childRank = cents.select("bucket", "ccid")
      .withColumn("child", (row_number().over(rankW) - 1).cast("long"))
    // Composite-id overflow guard (r10 ADVICE): the documented
    // precondition |bucket| < Long.Max/split is ENFORCED, not assumed —
    // repeated self-application multiplies ids by `split` per level, so
    // an unguarded deep recursion would wrap silently. assert_true
    // rides the existing projection (codegen'd, no extra job); the
    // task fails with the offending id instead of emitting a collided
    // bucket.
    val cap = Long.MaxValue / split
    def composed(b: Column, child: Column): Column =
      when(assert_true(abs(b) <= cap,
          concat(lit(s"splitOversizedBuckets: |bucket| > ${cap} would " +
            s"overflow the composite id at split=$split: "),
            b.cast("string"))).isNull,
        b * split + child)
    val splitAssign = assignSub(cents)
      .join(broadcast(childRank), Seq("bucket", "ccid"))
      .select(col("vid"), composed(col("bucket"), col("child")).as("bucket"))
    val keptAssign = corpus
      .join(broadcast(over.withColumn("_o", lit(1))), Seq("bucket"), "left")
      .filter(col("_o").isNull)
      .select(col("vid"), composed(col("bucket"), lit(0L)).as("bucket"))
    keptAssign.union(splitAssign)
      .select(col("vid").as(id), col("bucket"))
  }

  // ---- Product quantization (Jégou et al. 2011) -------------------------

  /** PQ geometry: M subspaces × K codes. Storage per vector drops from
    * dims × 4 bytes to M bytes (one code id per subspace — 4 bytes here
    * vs 256 for the 64-dim corpus); the audit (ext107) prices what that
    * 64× compression costs in ranking fidelity. The SAME constants
    * interpolate into the oracle. */
  val PqSubspaces = 4
  val PqCodes = 16
  val PqIters = 2

  /** Per-subspace view of the quantized corpus: (vid, m, sq, sn2) —
    * subspace m holds dims [m·d+1, (m+1)·d], d = dims / M. Sub-norms
    * sum to the full norm² exactly (disjoint dim partition) — which
    * needs M | dims: a 66-dim vector under M=4 would silently slice
    * 4×16 and DROP the last two dims from codes and sub-norms, so a
    * non-divisible width fails loudly instead (the pca/
    * hyperplaneSignature geometry-guard discipline, r14 verdict
    * item 1's kernel audit). */
  private def pqSub(emb: DataFrame, id: String, vec: String): DataFrame =
    prepared(emb, id, vec).toDF("vid", "q", "n2")
      .withColumn("_d",
        when(size(col("q")) % lit(PqSubspaces) === 0,
          (size(col("q")) / lit(PqSubspaces)).cast("int"))
          .otherwise(raise_error(concat(
            lit(s"PQ needs dims divisible by $PqSubspaces subspaces, " +
              "got "), size(col("q")).cast("string")))))
      .select(col("vid"), explode(array((0 until PqSubspaces).map(m =>
        struct(lit(m).as("m"),
          expr(s"slice(q, $m * _d + 1, _d)").as("sq"))): _*)).as("s"))
      .select(col("vid"), col("s.m").as("m"), col("s.sq").as("sq"))
      .withColumn("sn2", qnorm2(col("sq")))

  /**
   * Deterministic per-subspace codebooks — [[kmeansBuckets]]'s Lloyd's
   * rules (exact int64 distances, floor-quantized centroid updates,
   * k-lowest-id seeds, (dist, code) argmin tie-break) run over all M
   * subspaces AT ONCE: every relation carries `m` as a key column, so
   * the corpus is scanned once per round for all M codebooks — not M
   * times (the per-subspace problems are independent; the m-keyed
   * chain is their data-parallel composition). Returns
   * (m, code, cq, cn2): M × K rows, broadcast-sized at any corpus
   * size — THE stored PQ artifact beside the codes table.
   */
  def pqCodebooks(emb: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val corpus = Reuse.shared(pqSub(emb, id, vec))
    val seeds = emb.select(col(id).as("vid")).orderBy("vid").limit(PqCodes)
    var cents = corpus.join(broadcast(seeds), "vid")
      .select(col("m"), col("vid").as("code"),
        col("sq").as("cq"), col("sn2").as("cn2"))
    (1 to PqIters).foreach { _ =>
      val a = corpus.join(broadcast(cents), "m")
        .withColumn("dist", col("sn2") + col("cn2")
          - lit(2L) * qdot(col("sq"), col("cq")))
        .groupBy(col("m"), col("vid"))
        .agg(min(struct(col("dist"), col("code"))).as("mn"),
          first(col("sq")).as("sq"))
        .select(col("m"), col("mn.code").as("code"), col("sq"))
      cents = a
        .select(col("m"), col("code"),
          posexplode(col("sq")).as(Seq("pos", "v")))
        .groupBy("m", "code", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .withColumn("cv",
          floor(col("s").cast("double") / col("n")).cast("long"))
        .groupBy("m", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("cv")))), x => x.getField("cv")).as("cq"))
        .withColumn("cn2", qnorm2(col("cq")))
    }
    cents
  }

  /** Build-once PQ codebooks (the r5 `kmeansProbeIndex` precedent, r9):
    * production learns the M×K codebook ONCE per corpus snapshot and
    * every encode/search/audit reads the stored artifact — but the
    * bench/verify contract runs each query in isolation, so the four
    * PQ consumers (ext107/108/117/118) each re-ran the same m-keyed
    * Lloyd's build. Memoized per (session, cacheKey) via [[Reuse.index]]
    * — M×K rows of int64 vectors, broadcast-sized at any corpus. */
  def pqCodebooksIndex(emb: DataFrame, cacheKey: String,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    Reuse.index(emb.sparkSession, s"pq-codebooks:$cacheKey") {
      pqCodebooks(emb, id, vec)
    }

  /** Build-once PQ codes table `(t_id, m, code)` — the encoded corpus
    * the serving stack stores beside the codebook (M small ints per
    * vector; the floats are read once at encode time). r18: the four
    * PQ consumers re-encoded the corpus per run; same [[Reuse.index]]
    * precedent as [[kmeansProbeIndex]]/[[pqCodebooksIndex]] and the
    * bucket-tagged [[ivfPqCodedCorpusIndex]]. */
  def pqCodesIndex(emb: DataFrame, cb: DataFrame, cacheKey: String,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    Reuse.index(emb.sparkSession, s"pq-codes:$cacheKey") {
      pqCodes(emb, cb, id, vec).toDF("t_id", "m", "code")
    }

  /** Build-once bucket-tagged coded corpus `(t_id, m, code, bucket)`
    * — [[ivfPqCodedCorpus]] as the stored serving artifact. */
  def ivfPqCodedCorpusIndex(emb: DataFrame, cb: DataFrame,
      probeIndex: DataFrame, cacheKey: String, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    Reuse.index(emb.sparkSession, s"pq-coded:$cacheKey") {
      pqCodesIndex(emb, cb, cacheKey, id, vec)
        .join(probeIndex.filter(col("probe_rank") === 1)
          .select(col(id).as("t_id"), col("bucket")), "t_id")
    }

  /** PQ encoding: per (vector, subspace) the nearest codeword id —
    * the compressed corpus representation (M small ints per vector).
    * Broadcast M×K codebook join + m-keyed argmin; one corpus scan.
    * Per-vector and stateless given the codebooks, so it is also the
    * ingest path of a PQ vector store (ext107's streaming twin): the
    * codebooks are a per-snapshot build artifact (re-learning them
    * in-stream would re-code already-emitted vectors), arriving vectors
    * encode against them per micro-batch, and only M small ints per
    * vector persist. */
  def pqCodes(emb: DataFrame, codebooks: DataFrame,
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    pqSub(emb, id, vec).join(broadcast(codebooks), "m")
      .withColumn("dist", col("sn2") + col("cn2")
        - lit(2L) * qdot(col("sq"), col("cq")))
      .groupBy(col("m"), col("vid"))
      .agg(min(struct(col("dist"), col("code"))).as("mn"))
      .select(col("vid").as(id), col("m"), col("mn.code").as("code"))

  /**
   * ADC (asymmetric distance computation) cosine top-k over the PQ
   * frame: the query stays full-precision, the target is its codeword
   * reconstruction — approx dot = Σ_m LUT(q, m, code_m(t)) where the
   * LUT holds the query's sub-dot against every codeword (M × K
   * entries per query, the classical PQ lookup table), and the target
   * norm is the reconstruction's Σ_m |codeword|². Everything after
   * codebook build touches only the CODES table: the scan carries M
   * int rows per target and one broadcast LUT join — no vector
   * arithmetic per pair at all (the 100 TB win: the corpus' float
   * vectors are read once at encode time, never at query time).
   * Exact int64 sums; ranks tie-break (cos_pq DESC, t_id ASC).
   */
  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding",
      codebooks: Option[DataFrame] = None,
      codes: Option[DataFrame] = None): DataFrame = {
    val cb = codebooks.getOrElse(Reuse.shared(pqCodebooks(emb, id, vec)))
    val codesT = codes.getOrElse(
      pqCodes(emb, cb, id, vec).toDF("t_id", "m", "code"))
    val qsub = Reuse.shared(pqSub(queries, id, vec))
    val qn2 = qsub.groupBy("vid").agg(sum("sn2").as("qn2"))
    val lut = qsub.join(broadcast(cb), "m")
      .select(col("vid").as("q_id"), col("m"), col("code"),
        qdot(col("sq"), col("cq")).as("ldot"), col("cn2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_pq").desc, col("t_id").asc)
    // one exchange hashed by q_id serves both the ADC aggregate and
    // the ranking window (r18; guide §2.4)
    codesT.join(broadcast(lut), Seq("m", "code"))
      .filter(col("q_id") =!= col("t_id"))
      .repartition(col("q_id"))
      .groupBy(col("q_id"), col("t_id"))
      .agg(sum(col("ldot")).as("adc_dot"), sum(col("cn2")).as("tn2_hat"))
      .join(broadcast(qn2.withColumnRenamed("vid", "q_id")), "q_id")
      .withColumn("cos_pq",
        cosine(col("adc_dot"), col("qn2"), col("tn2_hat")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("t_id"),
        col("rank").cast("long").as("rank"), col("cos_pq"))
  }

  /**
   * Two-stage PQ retrieval — the production answer to raw ADC's
   * ranking error (ext107 prices it): ADC generates `candidates`
   * top-C per query off the CODES table alone, then only those C
   * vectors per query are re-read at full precision and re-ranked by
   * exact cosine. At 100 TB the corpus' float vectors are touched
   * C·|queries| times per query batch — a keyed equi-join on t_id,
   * never a scan — while candidate generation stays in the M-byte
   * code domain. The standard IVF-PQ + rerank serving shape.
   */
  def pqRerankTopK(emb: DataFrame, queries: DataFrame, k: Int,
      candidates: Int = 20, id: String = "vec_id",
      vec: String = "embedding",
      codebooks: Option[DataFrame] = None,
      codes: Option[DataFrame] = None): DataFrame = {
    require(candidates >= k, "candidate pool must cover the final k")
    val cand = pqTopK(emb, queries, candidates, id, vec, codebooks,
      codes)
      .select(col("q_id"), col("t_id"))
    val corpus = prepared(emb, id, vec).toDF("t_id", "t_q", "t_n2")
    val qs = prepared(queries, id, vec).toDF("q_id", "q_q", "q_n2")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("t_id").asc)
    cand.join(corpus, "t_id")
      .join(broadcast(qs), "q_id")
      .withColumn("cos",
        cosine(qdot(col("q_q"), col("t_q")), col("q_n2"), col("t_n2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("t_id"),
        col("rank").cast("long").as("rank"), col("cos"))
  }

  /**
   * IVF-PQ + exact rerank — the COMPOSED production retrieval shape
   * (r8 verdict item 1; the classical IVF-ADC serving stack of Jégou
   * et al. 2011 §V): both halves already exist and are priced
   * separately (the IVF probe index / ext58's recall curve; pqTopK's
   * ADC / ext107's fidelity card) — this restricts the ADC scan to the
   * query's `probes` nearest coarse buckets, then reranks the top-C
   * survivors per query by exact cosine. Three cost tiers, each
   * touching less data than the last is wide:
   *
   *  1. candidate generation reads ONLY the codes table (M small ints
   *     per vector) and only ~(probes / k_centroids) of it — the
   *     broadcast per-query LUT is expanded by the query's probed
   *     buckets, so the equi-join key is (bucket, m, code) and
   *     unprobed buckets never leave the scan;
   *  2. ADC ranking shuffles ≤ candidates rows per query per map task
   *     (WindowGroupLimit);
   *  3. the exact tail re-reads full vectors for C·|queries| rows via
   *     a keyed equi-join on t_id — never a corpus scan.
   *
   * At 100 TB this is the plan you'd serve: float vectors are read at
   * encode time and at the C-row rerank, never in the scan.
   * `probeIndex` is the build-once [[kmeansProbeIndex]] artifact
   * covering corpus AND query ids (queries drawn from the corpus —
   * the ext57/58 audit convention); the corpus is indexed under its
   * argmin bucket (probe_rank 1), queries probe ranks ≤ `probes`.
   * A target whose bucket no probe reaches is unreachable — exactly
   * the recall the ext118 curve prices against `probes`.
   */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, probeIndex: DataFrame,
      k: Int, probes: Int = 2, candidates: Int = 20,
      id: String = "vec_id", vec: String = "embedding",
      codebooks: Option[DataFrame] = None,
      codedCorpus: Option[DataFrame] = None): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    val cb = codebooks.getOrElse(Reuse.shared(pqCodebooks(emb, id, vec)))
    val coded = codedCorpus.getOrElse(ivfPqCodedCorpus(emb, cb,
      probeIndex.filter(col("probe_rank") === 1)
        .select(col(id), col("bucket")), id, vec))
    val qProbes = probeIndex.filter(col("probe_rank") <= probes)
      .select(col(id).as("q_id"), col("bucket"))
      .join(queries.select(col(id).as("q_id")), "q_id")
    ivfPqTopKOf(coded, cb, emb, queries, qProbes, k, candidates, id, vec)
  }

  /** The bucket-tagged PQ code artifact `(t_id, m, code, bucket)` the
    * IVF-PQ searchers scan — built ONCE per corpus snapshot (the
    * serving store's persisted form: M small ints + one bucket tag per
    * vector, never the floats). */
  def ivfPqCodedCorpus(emb: DataFrame, cb: DataFrame,
      buckets: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    pqCodes(emb, cb, id, vec).toDF("t_id", "m", "code")
      .join(buckets.toDF("t_id", "bucket"), "t_id")

  /**
   * Serving-path search over fully PREBUILT artifacts — the form a
   * query STREAM runs (r9 verdict item 2): the arriving query knows
   * nothing of the build, so its probed buckets come from the STORED
   * coarse centroids ([[kmeansCentroids]]) via [[centroidProbes]] —
   * the same (dist ASC, cid ASC) ranking the index build used, so for
   * any corpus-member query the result is bit-identical to
   * [[ivfPqTopK]] on the same snapshot. Scale shape unchanged from
   * ivfPqTopK: broadcast per-query LUT × probed buckets, ADC equi-join
   * on (bucket, m, code), WindowGroupLimit-bounded candidates, floats
   * re-read only via the keyed join on ≤ candidates·|queries| rows.
   */
  def ivfPqSearch(queries: DataFrame, cents: DataFrame, cb: DataFrame,
      coded: DataFrame, emb: DataFrame, k: Int, probes: Int = 2,
      candidates: Int = 20, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val qProbes = centroidProbes(queries, cents, probes, id, vec)
      .select(col(id).as("q_id"), col("bucket"))
    ivfPqTopKOf(coded, cb, emb, queries, qProbes, k, candidates, id, vec)
  }

  /**
   * [[ivfPqTopK]] over a REBALANCED assignment
   * ([[splitOversizedBuckets]]' composite ids) — the proof that the
   * split is layout-transparent to retrieval: a query probing parent
   * p probes ALL of p's children (`composite DIV split == p`), and
   * since every target in a probed parent lands in exactly one child,
   * the candidate set — and therefore the result — is IDENTICAL to
   * searching the unsplit index (spec-asserted). What changes is the
   * layout consumers like [[semDedup]]/[[knnDensity]] pay for:
   * bounded per-bucket cardinality. The child map is
   * (|buckets_after|)-row tiny and broadcast.
   */
  def ivfPqTopKRebalanced(emb: DataFrame, queries: DataFrame,
      probeIndex: DataFrame, rebalanced: DataFrame, split: Int,
      k: Int, probes: Int = 2, candidates: Int = 20,
      id: String = "vec_id", vec: String = "embedding",
      codebooks: Option[DataFrame] = None): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    val cb = codebooks.getOrElse(Reuse.shared(pqCodebooks(emb, id, vec)))
    val coded = ivfPqCodedCorpus(emb, cb, rebalanced, id, vec)
    val childMap = rebalanced.select(
        expr(s"bucket DIV $split").as("parent"), col("bucket"))
      .distinct()
    val qProbes = probeIndex.filter(col("probe_rank") <= probes)
      .select(col(id).as("q_id"), col("bucket").as("parent"))
      .join(queries.select(col(id).as("q_id")), "q_id")
      .join(broadcast(childMap), "parent")
      .select("q_id", "bucket")
    ivfPqTopKOf(coded, cb, emb, queries, qProbes, k, candidates, id, vec)
  }

  /** The search core over PREBUILT IVF-PQ artifacts (bucket-tagged
    * codes + codebooks) and a per-query probe relation, so the probe
    * curve builds once and searches per probe level and the streaming
    * searcher probes off stored centroids — the production
    * build/search split. */
  private def ivfPqTopKOf(coded: DataFrame, cb: DataFrame,
      emb: DataFrame, queries: DataFrame, qProbes: DataFrame,
      k: Int, candidates: Int, id: String,
      vec: String): DataFrame = {
    require(candidates >= k, "candidate pool must cover the final k")
    val qsub = Reuse.shared(pqSub(queries, id, vec))
    val qn2 = qsub.groupBy("vid").agg(sum("sn2").as("qn2"))
    val lut = qsub.join(broadcast(cb), "m")
      .select(col("vid").as("q_id"), col("m"), col("code"),
        qdot(col("sq"), col("cq")).as("ldot"), col("cn2"))
    // the per-query LUT × its probed buckets: |queries|·M·K·probes
    // rows — broadcast-sized at any corpus size
    val lutB = lut.join(qProbes, "q_id")
    val wc = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_pq").desc, col("t_id").asc)
    // one exchange hashed by q_id serves both the ADC aggregate and
    // the candidate-ranking window (r18; guide §2.4)
    val cand = coded
      .join(broadcast(lutB), Seq("bucket", "m", "code"))
      .filter(col("q_id") =!= col("t_id"))
      .repartition(col("q_id"))
      .groupBy(col("q_id"), col("t_id"))
      .agg(sum(col("ldot")).as("adc_dot"), sum(col("cn2")).as("tn2_hat"))
      .join(broadcast(qn2.withColumnRenamed("vid", "q_id")), "q_id")
      .withColumn("cos_pq",
        cosine(col("adc_dot"), col("qn2"), col("tn2_hat")))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= candidates)
      .select("q_id", "t_id")
    val corpus = prepared(emb, id, vec).toDF("t_id", "t_q", "t_n2")
    val qs = prepared(queries, id, vec).toDF("q_id", "q_q", "q_n2")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("t_id").asc)
    cand.join(corpus, "t_id")
      .join(broadcast(qs), "q_id")
      .withColumn("cos",
        cosine(qdot(col("q_q"), col("t_q")), col("q_n2"), col("t_n2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("t_id"),
        col("rank").cast("long").as("rank"), col("cos"))
  }

  /**
   * Recall-vs-probes curve for the composed retrieval operator —
   * ext58's discipline applied to the FULL serving stack: at each
   * probe level, [[ivfPqTopK]]'s result scored against the exact
   * brute-force top-k ([[Dedup.pairRecall]]'s 3-scalar summary).
   * The IVF-PQ artifacts (codebooks, bucket-tagged codes, truth)
   * build ONCE and every curve point searches them — the cost ratio
   * production sees. The residual at max probes is PQ ranking error
   * that `candidates` didn't recover (ext108's knob); the gap between
   * consecutive rows is centroid-boundary loss (ext58's knob).
   */
  def ivfPqProbeCurve(emb: DataFrame, queries: DataFrame,
      probeIndex: DataFrame, probes: Seq[Int], k: Int,
      candidates: Int = 20, id: String = "vec_id",
      vec: String = "embedding",
      codebooks: Option[DataFrame] = None,
      codedCorpus: Option[DataFrame] = None): DataFrame = {
    val cb = codebooks.getOrElse(Reuse.shared(pqCodebooks(emb, id, vec)))
    val coded = codedCorpus.getOrElse(Reuse.shared(
      pqCodes(emb, cb, id, vec).toDF("t_id", "m", "code")
        .join(probeIndex.filter(col("probe_rank") === 1)
          .select(col(id).as("t_id"), col("bucket")), "t_id")))
    val truth = Reuse.shared(bruteTopK(emb, queries, k, id, vec)
      .select(col("q_id").as("id_a"), col("t_id").as("id_b")))
    probes.map { p =>
      val qProbes = probeIndex.filter(col("probe_rank") <= p)
        .select(col(id).as("q_id"), col("bucket"))
        .join(queries.select(col(id).as("q_id")), "q_id")
      val got = ivfPqTopKOf(coded, cb, emb, queries, qProbes, k,
          candidates, id, vec)
        .select(col("q_id").as("id_a"), col("t_id").as("id_b"))
      Dedup.pairRecall(truth, got).withColumn("probes", lit(p.toLong))
    }.reduce(_ unionByName _)
      .select("probes", "n_true", "n_detected", "recall_q")
      .orderBy("probes")
  }

  /** Recall of the two-stage rerank vs the exact top-k (ext88's
    * 3-scalar summary via [[Dedup.pairRecall]]) — measures what the
    * C-candidate pool recovers of raw ADC's ranking loss. */
  def pqRerankRecallAudit(emb: DataFrame, queries: DataFrame, k: Int,
      candidates: Int = 20, id: String = "vec_id",
      vec: String = "embedding",
      codebooks: Option[DataFrame] = None,
      codes: Option[DataFrame] = None): DataFrame = {
    val truth = bruteTopK(emb, queries, k, id, vec)
      .select(col("q_id").as("id_a"), col("t_id").as("id_b"))
    val got = pqRerankTopK(emb, queries, k, candidates, id, vec,
        codebooks, codes)
      .select(col("q_id").as("id_a"), col("t_id").as("id_b"))
    Dedup.pairRecall(truth, got)
  }

  /**
   * PQ fidelity audit — ext93's card over the PQ frame: exact
   * full-precision top-k vs the ADC top-k, one row (rank-set overlap
   * ppm + mean |cos_pq − cos| in nano-units, per-pair floor-quantized
   * before summing). The decision it prices: ship M bytes per vector
   * (64× compression here) or the full float array. Same sampled-
   * query-set audit shape as ext54/57/88/93.
   */
  def pqFidelityAudit(emb: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding",
      codebooks: Option[DataFrame] = None,
      codes: Option[DataFrame] = None): DataFrame = {
    val full = bruteTopK(emb, queries, k, id, vec)
      .select(col("q_id"), col("t_id"), col("cos"))
    val pq = pqTopK(emb, queries, k, id, vec, codebooks, codes)
      .select(col("q_id"), col("t_id"), col("cos_pq"))
    val totals = full.agg(
      countDistinct(col("q_id")).as("n_queries"),
      count(lit(1)).as("n_pairs"))
    val overlap = full.join(pq, Seq("q_id", "t_id"))
      .agg(count(lit(1)).as("n_overlap"),
        coalesce(sum(floor(abs(col("cos_pq") - col("cos")) * lit(1e9))
          .cast("long")), lit(0L)).as("_err_sum"))
    totals.crossJoin(broadcast(overlap))
      .withColumn("overlap_ppm",
        when(col("n_pairs") === 0, lit(0L))
          .otherwise(expr("(n_overlap * 1000000) DIV n_pairs")))
      .withColumn("mae_q9",
        when(col("n_overlap") === 0, lit(0L))
          .otherwise(expr("_err_sum DIV n_overlap")))
      .select("n_queries", "n_pairs", "n_overlap", "overlap_ppm", "mae_q9")
  }

  /** Denominator neighborhood size of [[marginMine]] — the k of the
    * ratio-margin criterion (Artetxe & Schwenk 2019 use k = 4; so does
    * CCMatrix). Also the candidate fan-out per left-side vector. */
  val MarginK = 4

  /** Mined-pair acceptance threshold of [[marginMine]] in ppm:
    * margin ≥ 1.02 keeps pairs whose cosine beats the average of both
    * endpoints' neighborhoods by ≥ 2% — pairs that merely sit in a
    * dense hub region score ≈ 1 and are dropped. The comparison runs
    * on floor(margin·10⁶) int64 so the cut is engine-portable (no
    * double-literal threshold to round differently). */
  val MarginThresholdPpm = 1020000L

  /**
   * Margin-based pair mining between two embedded corpora (Artetxe &
   * Schwenk, ACL 2019; the CCMatrix bitext-mining criterion): a
   * candidate pair (a, b) is kept not on raw cosine — which hub
   * vectors inflate for *every* partner — but on the RATIO of its
   * cosine to the mean cosine of each endpoint's own k-nearest
   * neighborhood on the other side:
   *
   *   margin(a, b) = 2·cos(a, b) / (knnAvg_k(a→B) + knnAvg_k(b→A))
   *
   * Candidates are a's forward top-k in B; a pair survives when
   * floor(margin·10⁶) ≥ `minMarginPpm`. Output one row per surviving
   * pair: (a_id, b_id, fwd_rank, cos, margin_ppm).
   *
   * Determinism: cosines are the [[Similarity]] contract (exact int64
   * dots, fixed IEEE division); the k-NN mean is summed in RANK order
   * via a left fold over the pivoted rank columns — never a float SUM
   * whose order the engine picks — and the margin is floor-quantized
   * to int64 ppm before the threshold compare, so both the kept SET
   * and every emitted value are bit-identical across engines. Sides
   * need ≥ k vectors each (fewer leaves the fold NULL and the pair is
   * dropped — mining against a corpus smaller than the neighborhood
   * is ill-posed).
   *
   * Scale shape: the smaller side broadcasts; the |A|×|B| scored
   * relation never materializes beyond the two rank shuffles, each
   * pre-pruned to k rows per partition per map task by
   * WindowGroupLimit; the two neighborhood-mean relations are |A| and
   * |B| rows and broadcast back onto the k·|A| candidate set. At
   * 100 TB neither side broadcasts — swap the exact crossJoin
   * candidate generator for [[ivfTopK]]/[[ivfPqSearch]] per side (the
   * margin algebra is unchanged; recall is priced by ext57/ext118's
   * audits), exactly how CCMatrix runs FAISS-approximate kNN under
   * the same margin.
   */
  /** Selection size of [[kCenterCoreset]]'s registry query — small by
    * design: the oracle unrolls one CTE block per round. */
  val KCenterK = 6

  /** RRF dampening constant — 60 per Cormack et al. (SIGIR 2009), the
    * value every production hybrid-search implementation ships. */
  val RrfK = 60

  /**
   * Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
   * the hybrid-retrieval combiner: given N per-query rankings
   * `(q_id, t_id, rank)` from heterogeneous retrievers (cosine vs dot
   * vs L2 here; BM25 vs dense vs sparse in a search stack), score
   * every candidate Σ_lists 10⁶ DIV (rrfK + rank) and re-rank. Rank
   * positions — not scores — enter the sum, so incomparable score
   * scales fuse without calibration; the contribution is integer DIV
   * so the fused score is an exact int64 (no float reciprocal sums to
   * diverge between engines). Ties break on t_id.
   *
   * Scale shape: fusion itself never touches the corpus — it is one
   * union of the bounded top-k lists (≤ N·k rows per query) and one
   * map-side-combined groupBy; the cost lives in producing the input
   * rankings, which at 100 TB are stored retrieval outputs
   * ([[ivfTopK]]/[[ivfPqSearch]] sinks), not recomputed per fusion.
   */
  def rrfFuse(rankings: Seq[DataFrame], k: Int,
      rrfK: Int = RrfK): DataFrame = {
    require(rankings.nonEmpty, "nothing to fuse")
    val scored = rankings
      .map(_.select(col("q_id"), col("t_id"),
        expr(s"1000000 DIV ($rrfK + rank)").as("contrib")))
      .reduceLeft(_ unionByName _)
    // one exchange hashed by q_id serves both the contribution sum
    // (clustering on a key subset) and the re-rank window (r18;
    // guide §2.4: the groupBy(q_id, t_id) + window(q_id) pair
    // otherwise shuffles the bounded candidate lists twice)
    scored.repartition(col("q_id"))
      .groupBy("q_id", "t_id").agg(sum("contrib").as("rrf"))
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("rrf").desc, col("t_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("t_id"), col("rrf"),
        col("rank").cast("long").as("rank"))
  }

  /**
   * Hybrid retrieval served end-to-end from STORED index artifacts —
   * closing the "stored retrieval outputs" claim for BOTH legs (r14
   * verdict item 2): the dense leg is [[ivfPqSearch]] over the
   * persisted IVF-PQ triple (coarse centroids, codebooks,
   * bucket-tagged codes) with floats re-read only through the
   * candidates·|queries| keyed rerank join; the lexical leg is
   * [[TextOps.bm25PerQueryFromIndex]] over the persisted posting
   * relation (corpus text never rescanned); [[rrfFuse]] combines the
   * two bounded top-k lists. Law: identical to the recompute form
   * `rrfFuse(ivfPqSearch(snapshot artifacts), bm25PerQuery(text))` —
   * spec-asserted against stores written to and read back from
   * parquet.
   *
   * Scale shape: NO corpus scan on either leg — the dense scan reads
   * only probed buckets of the M-small-int code store, the lexical
   * scan only the query vocabulary's posting lists; fusion touches
   * ≤ 2·kPerLeg rows per query.
   */
  def hybridFromStores(qIds: Seq[Long], cents: DataFrame,
      cb: DataFrame, coded: DataFrame, emb: DataFrame,
      index: DataFrame, k: Int = 5, kPerLeg: Int = 10,
      probes: Int = 2, candidates: Int = 20, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    require(qIds.nonEmpty, "hybrid retrieval needs at least one query")
    val queries = emb.filter(col(id).isin(qIds: _*))
    val dense = ivfPqSearch(queries, cents, cb, coded, emb, kPerLeg,
      probes, candidates, id, vec)
    val lex = graft.ops.TextOps.bm25PerQueryFromIndex(index, qIds,
      kPerLeg)
    rrfFuse(Seq(dense, lex), k)
  }

  /**
   * Greedy k-center coreset selection (Gonzalez 1985; the
   * facility-location "diverse subset" selector of active-learning /
   * data-pruning pipelines, e.g. CoreSet, Sener & Savarese 2018):
   * seed with the max-norm vector, then k−1 rounds of "pick the point
   * farthest from everything selected so far". The greedy prefix is a
   * 2-approximation of the optimal k-center cover, and each selected
   * point's `dist2` — its squared L2 distance to the previously
   * selected set — is exactly the covering radius of the prefix before
   * it (so the OUTPUT doubles as the coverage-vs-k curve).
   *
   * Determinism: distances are exact int64 (n2a + n2b − 2·qdot over
   * quantized vectors); argmax ties break by min id; the seed is
   * (max n2, min id). Every round is reproducible arithmetic — the
   * DuckDB oracle unrolls the same rounds.
   *
   * Scale shape: the classic distributed Gonzalez — each round is ONE
   * map-only corpus pass (the ≤k selected vectors ride the closure as
   * literals; min-distance is a fixed fold of codegen'd integer dot
   * products) topped by a TakeOrdered argmax of exactly one row. Total
   * cost k scans, k·|corpus| distance evaluations, driver state k
   * vectors — no shuffle anywhere. At 100 TB you'd carry the running
   * min-distance column between rounds (one persisted int64 per row)
   * instead of refolding all k dots; the selection it computes is
   * identical (min over a set, order-free), so this implementation
   * states the semantics for both.
   */
  def kCenterCoreset(emb: DataFrame, k: Int = KCenterK,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    require(k >= 1, "k-center needs k >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val p = prepared(emb, id, vec).toDF("id", "q", "n2")
    // Empty corpus / corpus smaller than k: return the selectable
    // prefix (possibly no rows) rather than throwing — the empty-input
    // contract every operator here honors (EmptyInputSpec).
    val seedOpt = p.orderBy(col("n2").desc, col("id").asc)
      .head(1).headOption
    if (seedOpt.isEmpty)
      return Seq.empty[(Long, Long, Long)]
        .toDF("sel_rank", "vec_id", "dist2")
    val seed = seedOpt.get
    // (rank, id, vector, n2, dist2-to-previous-set)
    var sel = List((1L, seed.getLong(0),
      seed.getSeq[Long](1).toArray, seed.getLong(2), 0L))
    var exhausted = false
    for (r <- 2 to k if !exhausted) {
      val minDist = sel
        .map { case (_, _, sq, sn2, _) =>
          col("n2") + lit(sn2) - lit(2L) * qdot(col("q"), typedLit(sq.toSeq))
        }
        .reduceLeft((a, b) => least(a, b))
      p.filter(!col("id").isin(sel.map(_._2): _*))
        .withColumn("mind", minDist)
        .orderBy(col("mind").desc, col("id").asc)
        .head(1).headOption match {
        case Some(chosen) =>
          sel = (r.toLong, chosen.getLong(0),
            chosen.getSeq[Long](1).toArray, chosen.getLong(2),
            chosen.getLong(3)) :: sel
        case None => exhausted = true
      }
    }
    sel.reverse.map(s => (s._1, s._2, s._5))
      .toDF("sel_rank", "vec_id", "dist2")
  }

  def marginMine(embA: DataFrame, embB: DataFrame, k: Int = MarginK,
      minMarginPpm: Long = MarginThresholdPpm, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val a = prepared(embA, id, vec).toDF("a_id", "a_q", "a_n2")
    val b = prepared(embB, id, vec).toDF("b_id", "b_q", "b_n2")
    val scored = a.crossJoin(broadcast(b))
      .select(col("a_id"), col("b_id"),
        cosine(qdot(col("a_q"), col("b_q")), col("a_n2"), col("b_n2"))
          .as("cos"))
    val wFwd = Window.partitionBy("a_id")
      .orderBy(col("cos").desc, col("b_id").asc)
    val wBwd = Window.partitionBy("b_id")
      .orderBy(col("cos").desc, col("a_id").asc)
    val fwd = scored.withColumn("rn", row_number().over(wFwd))
      .filter(col("rn") <= k)
    val bwd = scored.withColumn("rn", row_number().over(wBwd))
      .filter(col("rn") <= k)
    marginFromRanked(
      fwd.select(col("a_id"), col("b_id"), col("rn"), col("cos")),
      bwd.select(col("a_id"), col("b_id"), col("rn"), col("cos")),
      k, minMarginPpm)
  }

  /**
   * The margin algebra alone, over PRE-RANKED neighbor lists: `fwd` =
   * a's ranked neighbors in B, `bwd` = b's ranked neighbors in A, both
   * as (a_id, b_id, rn, cos) with rn already ≤ k per query side. This
   * is the seam [[marginMine]]'s Scaladoc promises: swap the exact
   * crossJoin lists for ANN lists and the margin criterion is
   * unchanged — [[marginMineIvf]] does exactly that.
   */
  def marginFromRanked(fwd: DataFrame, bwd: DataFrame,
      k: Int = MarginK,
      minMarginPpm: Long = MarginThresholdPpm): DataFrame = {
    // Rank-ordered left-fold mean: ((c1+c2)+…+ck)/k, ci = the cosine at
    // rank i. The fold order is part of the cross-engine contract.
    def knnAvg = (1 to k)
      .map(i => max(when(col("rn") === i, col("cos"))))
      .reduceLeft(_ + _) / k.toDouble
    val aAvg = fwd.groupBy("a_id").agg(knnAvg.as("a_knn"))
    val bAvg = bwd.groupBy("b_id").agg(knnAvg.as("b_knn"))
    // Positive-neighborhood precondition: when BOTH endpoints' k-NN
    // mean cosines are negative the ratio's denominator flips sign and
    // a strongly anti-correlated pair would score a spuriously POSITIVE
    // margin — guard a_knn + b_knn > 0 (mirrored in the oracle SQL)
    // before the ratio is ever formed.
    fwd.join(aAvg, "a_id").join(bAvg, "b_id")
      .filter(col("a_knn") + col("b_knn") > 0)
      .withColumn("margin_ppm",
        floor((col("cos") + col("cos")) / (col("a_knn") + col("b_knn"))
          * lit(1000000.0)).cast("long"))
      .filter(col("margin_ppm") >= minMarginPpm)
      .select(col("a_id"), col("b_id"),
        col("rn").cast("long").as("fwd_rank"), col("cos"),
        col("margin_ppm"))
  }

  /**
   * [[marginMine]] with IVF candidate generation — the 100 TB form:
   * both directions' neighbor lists come from [[ivfTopK]] (bucket =
   * the coarse quantizer; here the label column, exactly ext06's
   * shape), so neither side is ever crossed against the other — the
   * scan cost is the bucket-restricted candidate mass, priced by the
   * ext57/ext58 recall audits. The margin algebra above the lists is
   * [[marginFromRanked]], bit-identical to the exact form's; a pair
   * whose endpoints share no bucket can't be mined (the CCMatrix
   * trade, measured there as negligible at adequate nprobe). Sides
   * must have disjoint ids (they are different corpora).
   */
  def marginMineIvf(embA: DataFrame, embB: DataFrame, k: Int = MarginK,
      minMarginPpm: Long = MarginThresholdPpm, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    def ranked(corpus: DataFrame, queries: DataFrame, aSide: Boolean) =
      ivfTopK(corpus, queries, k, id = id, vec = vec)
        .select(
          (if (aSide) col("q_id") else col("t_id")).as("a_id"),
          (if (aSide) col("t_id") else col("q_id")).as("b_id"),
          col("rank").as("rn"), col("cos"))
    marginFromRanked(ranked(embB, embA, aSide = true),
      ranked(embA, embB, aSide = false), k, minMarginPpm)
  }

  /**
   * Margin mining over an EXPLICIT single-bucket assignment — the
   * ext124 composition made real for the margin miner (r12 verdict
   * item 2): [[marginMineIvf]]'s candidate mass is O(Σ |A∩bucket| ×
   * |B∩bucket|), quadratic when a hot bucket grows with the corpus
   * (measured ×17 wall at ×10 dup-mode data); feeding it
   * [[splitOversizedBuckets]]' REBALANCED assignment caps every
   * bucket, so the pair join is Σ ≤ cap² per bucket — linear in bucket
   * count. `assignment` is any (id, bucket) relation with EXACTLY ONE
   * bucket per id covering both sides (kmeans argmin, a label column,
   * or the rebalanced composite ids — consumers take it unchanged,
   * the [[semDedup]]/[[knnDensity]] contract). With a single-bucket
   * assignment the candidate sets equal [[marginMineIvf]]'s over the
   * same buckets (spec-asserted), and the margin algebra above the
   * ranked lists is the shared [[marginFromRanked]], bit-identical.
   *
   * What the cap costs: a true high-margin pair split across a child
   * boundary can no longer be mined — the ext147 recall audit prices
   * exactly that (kept-pair recall of this form vs the exact
   * [[marginMine]], the ext54 discipline). Neither side is ever
   * broadcast-hinted: both are corpus-proportional, the join is
   * bucket-keyed and AQE picks the strategy.
   */
  def marginMineBucketed(embA: DataFrame, embB: DataFrame,
      assignment: DataFrame, k: Int = MarginK,
      minMarginPpm: Long = MarginThresholdPpm, id: String = "vec_id",
      vec: String = "embedding"): DataFrame = {
    val asg = assignment.toDF("vid", "bucket")
    def side(e: DataFrame, p: String) =
      prepared(e, id, vec).toDF(s"${p}_id", s"${p}_q", s"${p}_n2")
        .join(asg.withColumnRenamed("vid", s"${p}_id"), s"${p}_id")
    val scored = side(embA, "a").join(side(embB, "b"), "bucket")
      .select(col("a_id"), col("b_id"),
        cosine(qdot(col("a_q"), col("b_q")), col("a_n2"), col("b_n2"))
          .as("cos"))
    val wFwd = Window.partitionBy("a_id")
      .orderBy(col("cos").desc, col("b_id").asc)
    val wBwd = Window.partitionBy("b_id")
      .orderBy(col("cos").desc, col("a_id").asc)
    marginFromRanked(
      scored.withColumn("rn", row_number().over(wFwd))
        .filter(col("rn") <= k)
        .select(col("a_id"), col("b_id"), col("rn"), col("cos")),
      scored.withColumn("rn", row_number().over(wBwd))
        .filter(col("rn") <= k)
        .select(col("a_id"), col("b_id"), col("rn"), col("cos")),
      k, minMarginPpm)
  }
}
