package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry._

/**
 * Driver contract — one `queries` entry per implemented operator from
 * SURVEY.md §2 (IDs in the names), each paired with equivalent DuckDB SQL
 * in `oracleSql` over the same parquet tables.
 *
 * The registry is the list of family modules below, one per `ops/`
 * module a query exercises; each query is one [[graft.registry.Query]]
 * declaration there, its Spark form beside its oracle SQL. Shared
 * artifacts live in [[graft.registry.Artifacts]], shared oracle CTEs in
 * `graft.registry.OracleSql`.
 *
 * Determinism rules used throughout (SURVEY.md §7.3): every query ends in
 * a total ORDER BY in both engines; float sums go through DECIMAL(18,6)
 * (exact, order-independent) and back to double; all top-k has a total
 * tie-break.
 *
 * The `events` table stands in for the tweet stream (TESTDATA.md):
 * entity = user_id (mentions analog) / event_type (hashtags analog),
 * weight = value (follower-count analog), props = raw-JSON column.
 */
object SparkEntry {

  /** Every registry query, family by family; a name declared twice
    * fails here. */
  val registry: Seq[Query] = Query.registry(Seq(
    CoreQueries.queries,
    DedupQueries.queries,
    SimilarityQueries.queries,
    LabelAuditQueries.queries,
    TextQueries.queries,
    SamplingQueries.queries,
    SketchQueries.queries,
    PackingQueries.queries,
    MultimodalQueries.queries,
    EventQueries.queries).flatten)

  /** Flagship (M2): the full tweet-pipeline shape on `events` — parse,
    * project, hopping windows, multi-agg, top-10 rank (OP-04..28). */
  def entry(spark: SparkSession): DataFrame =
    queries("op28_window_rank")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
