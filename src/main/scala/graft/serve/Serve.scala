package graft.serve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Serving / read-path queries (SURVEY.md §2.8, OP-36..41) — the Spark
 * equivalent of the reference REPL's 8 commands
 * (TweetGate/Program.Repl.cs:44-107) over RocksDB range scans
 * (TweetGateCore/RocksDBStore.cs:138-264).
 *
 * The stored relation is a windowed-aggregate DataFrame keyed by
 * `window_end` (epoch seconds). In the reference, D19 tick keys make
 * RocksDB iterate exactly [start, end); here the same pruning comes from
 * writing the store partitioned/sorted by window_end (see
 * graft.stream.AggregateStore) so range filters become partition +
 * row-group pruning instead of a full scan.
 *
 * Note on OP-38/39: the reference *documents* entity-restricted scans but
 * its loop never re-checks the entity after the seek
 * (RocksDBStore.cs:241-262), returning every record to `end`. We implement
 * the documented intent — a true entity filter — as a deliberate fix
 * (SURVEY.md §2.8 quirk #1).
 */
object Serve {

  /** OP-36 `getsummary` (RocksDBStore.DbSummary.cs:19-30): fold the counts
    * store. Quirk #2 kept as-specified: `total_tweets` sums *hopping*
    * (overlapping) window counts, exactly like the reference. */
  def summary(counts: DataFrame): DataFrame =
    counts.agg(
      min(col("window_end")).as("min_window_end"),
      max(col("window_end")).as("max_window_end"),
      (max(col("window_end")) - min(col("window_end")))
        .as("duration_seconds"),
      count("*").as("window_count"),
      sum(col("cnt")).as("total_tweets"))

  /** The [start, end) predicate on `window_end` — the one range
    * predicate of every serving read, here and in
    * [[graft.stream.AggregateStore.readRange]]. */
  def inRange(startEpoch: Long, endEpoch: Long): Column =
    col("window_end") >= startEpoch && col("window_end") < endEpoch

  /** OP-37 `getcounts start end`: [start, end) time-range scan. */
  def rangeScan(store: DataFrame, startEpoch: Long, endEpoch: Long): DataFrame =
    store.filter(inRange(startEpoch, endEpoch)).orderBy(col("window_end"))

  /** OP-38/39 `gettop{mentions,hashtags}string start end [entity]`:
    * range scan with optional entity restriction (the documented-intent
    * semantics). */
  def rangeScanEntity(
      store: DataFrame, startEpoch: Long, endEpoch: Long,
      entity: Option[String]): DataFrame =
    entityFilter(store.filter(inRange(startEpoch, endEpoch)), entity)
      .orderBy(col("window_end"), col("entity"))

  /** The optional entity restriction of OP-38/39, applied to an
    * already-ranged frame: the one entity predicate of every serving
    * read, here, in the REPL and over the stored entity layout
    * (op38_store_entity, op38_store_payload). */
  def entityFilter(ranged: DataFrame, entity: Option[String]): DataFrame =
    entity.fold(ranged)(e => ranged.filter(col("entity") === e))

  /**
   * Reader-side retry for serving reads racing an OFFLINE compaction
   * ([[graft.stream.AggregateStore.compact]]) — the priced retry path
   * the r14 race spec promised (r14 verdict item 4): the swap has two
   * loud transient states — "aside" (nothing at the store path for the
   * instant between the two renames → PATH_NOT_FOUND at plan time) and
   * a pre-swap-planned scan whose files were replaced underneath it
   * (FileNotFoundException at execute time). Both resolve to a
   * CONSISTENT post-compact snapshot on re-plan (the race spec's law),
   * so the serving client re-runs the WHOLE action — plan and execute;
   * a retained DataFrame would pin the stale file listing, which is
   * why the argument is a thunk, not a frame. Anything that is not one
   * of the two compaction signatures rethrows immediately.
   *
   * `storePath` (when the caller knows it — the REPL always does)
   * makes the plan-time signature PRECISE (r15 verdict item 3 +
   * ADVICE): a PATH_NOT_FOUND only counts as a race when the store
   * existed when this call STARTED and the failure message actually
   * names that store — a typo'd store path (never existed) or an
   * unrelated missing file fails on the FIRST attempt instead of
   * silently paying the full backoff ladder. Execute-time
   * FileNotFoundException always retries: the plan listed files that
   * vanished underneath it, which IS the race, whatever path the
   * part-file lived under. Without `storePath` the plan-time
   * signature stays conservative (retry) — the caller gave nothing
   * to distinguish by. Every retry logs to stderr (and `onRetry`,
   * when given — StreamingSpec counts retries through it), so repeated
   * non-race FileNotFound failures are visible, never silent.
   */
  def retryingServe[T](attempts: Int = 4, backoffMs: Long = 25,
      storePath: String = null,
      onRetry: (Int, Throwable) => Unit = null)(action: => T): T = {
    require(attempts >= 1, "retryingServe needs at least one attempt")
    // The fail-fast gate only activates for stores java.io.File can
    // actually probe — a qualified non-local scheme (hdfs:, s3a:)
    // reads as never-existing locally, which would DISABLE the retry
    // protection rather than tighten it; those keep the conservative
    // legacy classification.
    val canon = Option(storePath).map(canonicalStore).filter(_ =>
      probeable(storePath)).orNull
    // Existence recorded at ENTRY: mid-swap the store path is absent
    // for the instant between the two renames, but a caller holding a
    // store handle entered BEFORE the swap. A caller that ENTERS
    // during that instant would read absent here too, so the
    // classifier below also re-probes at failure time (post-promote
    // the store is back) — only a path absent at BOTH instants fails
    // fast as never-existed.
    val existedAtEntry = canon != null && new java.io.File(canon).exists()
    var i = 0
    while (true) {
      try return action
      catch {
        case e: Throwable if i + 1 < attempts &&
            compactionRace(e, canon, existedAtEntry) =>
          i += 1
          val head = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(160)
          System.err.println(s"[serve] compact-race retry $i/" +
            s"${attempts - 1} after ${e.getClass.getSimpleName}: " +
            s"$head; backing off ${backoffMs * i} ms")
          if (onRetry != null) onRetry(i, e)
          Thread.sleep(backoffMs * i)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** `file:/x`, `file:///x`, `/x` and `/x/` are the same local
    * store — strip the scheme, collapse the URI renderings' extra
    * leading slashes, and drop trailing separators so the existence
    * probes and the message-naming check see ONE canonical rendering
    * (Hadoop renders single-slash `file:/x` in errors while
    * java.nio.Path.toUri produces `file:///x` — a mismatch here
    * would silently disable the retry protection). */
  private def canonicalStore(p: String): String = {
    val noScheme =
      if (p.startsWith("file:")) p.stripPrefix("file:") else p
    val trimmed = noScheme.replaceAll("^/+", "/").replaceAll("/+$", "")
    if (trimmed.isEmpty) "/" else trimmed
  }

  /** Only scheme-less and file: paths are locally probeable. */
  private def probeable(p: String): Boolean =
    p != null && (p.startsWith("file:") || !p.contains(":"))

  /** The two transient signatures of a read racing the compact swap
    * (cause chain walked — Spark wraps the executor's
    * FileNotFoundException several layers deep). Kept as the
    * conservative no-path form for callers without a store handle. */
  private[graft] def compactionRace(e: Throwable): Boolean =
    compactionRace(e, null, existedAtEntry = false)

  /** Walks the WHOLE cause chain before deciding: an execute-time
    * FileNotFoundException anywhere retries unconditionally (the plan
    * listed files that vanished — definitionally the swap), even when
    * an outer wrapper's PATH_NOT_FOUND names some other path. A
    * plan-time PATH_NOT_FOUND retries only when it NAMES the store
    * and the store existed at entry or exists now (the re-probe
    * covers a caller that entered during the aside instant). */
  private[graft] def compactionRace(e: Throwable, canonPath: String,
      existedAtEntry: Boolean): Boolean = {
    var t: Throwable = e
    var depth = 0
    var fnf = false
    var planMissNamed = false
    while (t != null && depth < 12) {
      val msg = Option(t.getMessage).getOrElse("")
      t match {
        case _: java.io.FileNotFoundException => fnf = true
        case _ if msg.contains("PATH_NOT_FOUND") ||
            msg.contains("Path does not exist") =>
          if (canonPath == null || msg.contains(canonPath))
            planMissNamed = true
        case _ => ()
      }
      t = if (t.getCause eq t) null else t.getCause
      depth += 1
    }
    if (fnf) true
    else if (planMissNamed)
      canonPath == null || existedAtEntry ||
        existsTwice(canonPath)
    else false
  }

  /** Failure-time existence probe, taken TWICE a few ms apart: under
    * a continuously looping compactor a single probe can itself land
    * in a later swap's aside instant (absent for the microseconds
    * between the two renames) and misread a live store as
    * never-existed; two probes spanning several ms both landing in
    * aside instants of different swaps is implausible, while a
    * genuinely missing path stays missing at both. */
  private def existsTwice(canonPath: String): Boolean = {
    if (new java.io.File(canonPath).exists()) return true
    Thread.sleep(5)
    new java.io.File(canonPath).exists()
  }

  /** OP-41 `getrecent*string N` (RocksDBStore.cs:174-196, SeekToLast+Prev):
    * newest N records. Spark plans this as TakeOrderedAndProject — a
    * per-partition top-N + driver merge, no global sort. The reference's
    * reverse key iteration is total (D19 ticks + entity bytes), so when
    * the store carries an entity column it joins the sort — `limit(n)`
    * over a non-total order would pick arbitrary same-window rows. */
  def recent(store: DataFrame, n: Int): DataFrame = {
    val order =
      if (store.columns.contains("entity"))
        Seq(col("window_end").desc, col("entity").desc)
      else Seq(col("window_end").desc)
    store.orderBy(order: _*).limit(n)
  }
}
