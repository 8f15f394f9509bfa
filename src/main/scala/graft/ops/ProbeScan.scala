package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.DataType

/**
 * Zero-Catalyst probe rounds for the bisection family (r18
 * optimization round).
 *
 * Every monotone search in [[Sampling]]/[[Sketches]] evaluates, per
 * round, a batch of conditional token/count sums over ONE pinned
 * partials relation. The r17 implementation built a fresh DataFrame
 * aggregate per round; measured on sf0.1 local[32] (OPTIMIZATION_r18.md,
 * 500 k rows × 31 probes × 15 rounds) that costs ~360-550 ms per
 * round — almost entirely DRIVER work: Catalyst analysis +
 * optimization of a fresh 31-column aggregate, codegen compilation
 * (probe values are baked literals, so the generated source differs
 * every round and the code cache never hits), and AQE stage
 * bookkeeping. The same sums evaluated by a closure over
 * `queryExecution.toRdd` cost ~105-135 ms per round — 3.4-4×
 * less — because after the first call there is NO per-round Catalyst
 * work at all: each round is one single-stage job over the
 * checkpointed rows, and the per-row arithmetic (a handful of long
 * compares and adds) is the same either way.
 *
 * Scale shape: identical to the aggregate it replaces — one full
 * pass over the partials per round, no exchange at all (per-partition
 * partial sums merge on the driver: |partitions| × |probes| longs,
 * the same rows the old final-aggregate task received). The per-row
 * work is a short primitive loop over the row's own probe list —
 * exactly what whole-stage codegen would emit for the batched
 * `sum(when(...))` columns, minus the per-round compilation. This is
 * NOT a corpus-scan UDF (the [[graft.ops.Dedup]] ban): the partials
 * relation is the few-longs-per-doc projection the family already
 * pins via [[Reuse.shared]], and the probe loop is the replacement
 * for an aggregate over it, not a per-row expression inside a wider
 * Catalyst plan.
 *
 * Probe kinds (all sums are of `_toks` unless `countRows`):
 *  - [[ProbeScan.ScoreGt]]        score >  m
 *  - [[ProbeScan.ScoreEqIdLe]]    score == t && id <= m
 *  - [[ProbeScan.SurvScoreGt]]    surv(ct,ci) && score >  m
 *  - [[ProbeScan.SurvEqIdLe]]     surv(ct,ci) && score == t && id <= m
 *  - [[ProbeScan.ValueLe]]        value <= m   (count; quantile rounds)
 * where surv(ct, ci) = score > row(ct) || (score == row(ct) &&
 * id <= row(ci)) — the per-row cap-envelope predicate of the
 * two-level sweep (ct/ci are column ordinals of the pivoted join).
 *
 * `group` keys a probe to one stratum ordinal (rows of other strata
 * skip it); −1 applies to every row. Group ordinals are resolved
 * from the SAME collected domain rows the searches already hold, so
 * the driver state stays ≤|strata|-sized.
 */
private[graft] object ProbeScan {
  final val ScoreGt = 0
  final val ScoreEqIdLe = 1
  final val SurvScoreGt = 2
  final val SurvEqIdLe = 3
  final val ValueLe = 4

  /** One conditional sum. `t`/`m` are the probe parameters; `ctOrd`/
    * `ciOrd` only for the Surv* kinds; `group` = stratum ordinal or
    * −1 for all rows. */
  final case class Spec(kind: Int, t: Long, m: Long, ctOrd: Int,
      ciOrd: Int, group: Int)

  def spec(kind: Int, m: Long): Spec = Spec(kind, 0L, m, -1, -1, -1)
}

private[graft] final class ProbeScan(e: DataFrame,
    stratFields: Seq[String], countRows: Boolean = false) {
  import ProbeScan._

  private val schema = e.schema
  private val idOrd =
    if (schema.fieldNames.contains("_id")) schema.fieldIndex("_id")
    else -1
  private val scoreOrd =
    if (schema.fieldNames.contains("_score")) schema.fieldIndex("_score")
    else schema.fieldIndex("_v")
  private val toksOrd =
    if (countRows || !schema.fieldNames.contains("_toks")) -1
    else schema.fieldIndex("_toks")
  private val stratOrds: Array[Int] =
    stratFields.map(schema.fieldIndex).toArray
  private val stratTypes: Array[DataType] =
    stratFields.map(schema(_).dataType).toArray
  // toRdd plans the relation ONCE; for a localCheckpoint'ed frame the
  // plan is the checkpoint scan itself, so each round's job reads the
  // pinned blocks directly.
  private lazy val rdd = e.queryExecution.toRdd

  /** group-ordinal lookup, built from the searches' already-collected
    * EXTERNAL domain keys (each key is the Seq of stratum field
    * values, or a single value for one stratum column). Internal
    * representations (UTF8String etc.) compare by content, so a
    * List[Any] of converted field values is a stable map key. */
  private var groupOf: Map[List[Any], Int] = Map.empty
  private var nGroups = 0

  private def toInternalKey(k: Seq[Any]): List[Any] = {
    val convs = stratTypes.map(t =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(t))
    require(k.size == convs.length,
      s"ProbeScan: group key arity ${k.size} != ${convs.length}")
    k.toList.zip(convs).map { case (v, c) => c(v) }
  }

  def setGroups(keys: Seq[Seq[Any]]): Unit = {
    groupOf = keys.zipWithIndex
      .map { case (k, i) => toInternalKey(k) -> i }.toMap
    nGroups = keys.size
  }

  def groupIndex(key: Seq[Any]): Int = groupOf(toInternalKey(key))

  /** [[sums]] keyed by spec: each distinct spec is summed once, in ONE
    * single-stage pass (none for no specs). */
  def sumsBySpec(specs: Seq[Spec]): Map[Spec, Long] = {
    val distinct = specs.distinct
    distinct.zip(sums(distinct)).toMap
  }

  /** Evaluate every spec's conditional sum in ONE single-stage pass. */
  def sums(specs: Seq[Spec]): Array[Long] = {
    if (specs.isEmpty) return Array.empty
    val n = specs.size
    val specArr = specs.toArray
    val globalIdx = specArr.indices.filter(specArr(_).group < 0).toArray
    val byGroup: Array[Array[Int]] = Array.tabulate(nGroups)(g =>
      specArr.indices.filter(specArr(_).group == g).toArray)
    val keyed = byGroup.exists(_.nonEmpty)
    val (lIdOrd, lScoreOrd, lToksOrd) = (idOrd, scoreOrd, toksOrd)
    val lStratOrds = stratOrds
    val lStratTypes = stratTypes
    val lGroupOf = groupOf
    // single-field fast path: avoid the per-row List allocation
    val singleField = lStratOrds.length == 1
    val lGroupOf1: Map[Any, Int] =
      if (singleField) groupOf.map { case (k, v) => k.head -> v }
      else Map.empty
    def evalSpecs(acc: Array[Long], idx: Array[Int], id: Long,
        score: Long, toks: Long, row: InternalRow): Unit = {
      var i = 0
      while (i < idx.length) {
        val j = idx(i)
        val s = specArr(j)
        val hit = (s.kind: @annotation.switch) match {
          case ScoreGt => score > s.m
          case ScoreEqIdLe => score == s.t && id <= s.m
          case SurvScoreGt =>
            val ct = row.getLong(s.ctOrd)
            (score > ct || (score == ct && id <= row.getLong(s.ciOrd))) &&
              score > s.m
          case SurvEqIdLe =>
            val ct = row.getLong(s.ctOrd)
            (score > ct || (score == ct && id <= row.getLong(s.ciOrd))) &&
              score == s.t && id <= s.m
          case ValueLe => score <= s.m
          case other =>
            throw new IllegalStateException(s"probe kind $other")
        }
        if (hit) acc(j) += toks
        i += 1
      }
    }
    rdd.aggregate(new Array[Long](n))(
      (acc, row) => {
        val id = if (lIdOrd >= 0) row.getLong(lIdOrd) else 0L
        val score = row.getLong(lScoreOrd)
        val toks = if (lToksOrd >= 0) row.getLong(lToksOrd) else 1L
        evalSpecs(acc, globalIdx, id, score, toks, row)
        if (keyed) {
          val g =
            if (singleField)
              lGroupOf1.getOrElse(
                row.get(lStratOrds(0), lStratTypes(0)), -1)
            else {
              var k = 0
              val key = new Array[Any](lStratOrds.length)
              while (k < lStratOrds.length) {
                key(k) = row.get(lStratOrds(k), lStratTypes(k))
                k += 1
              }
              lGroupOf.getOrElse(key.toList, -1)
            }
          if (g >= 0 && byGroup(g).nonEmpty)
            evalSpecs(acc, byGroup(g), id, score, toks, row)
        }
        acc
      },
      (a, b) => {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      })
  }
}
