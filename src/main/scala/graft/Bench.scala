package graft
import java.nio.file.{Files, Paths}
object Bench {
  /** Changed-mode's recorded fingerprints, under the working dir. */
  val FingerprintFile = "tools/bench_fingerprints.json"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Iteration mode (r12 verdict item 8): the registry is 170+ queries
    // with ~0.45 s median floor, so a full bench pass is dominated by
    // fixed per-query overhead. SPARK_GRAFT_BENCH_ONLY=ext147,ext139
    // restricts timing to name-prefix matches while iterating; the
    // graded gate ALWAYS runs the full set (driver sets no filter), and
    // a filtered run writes bench_last_partial.json so it can never
    // poison the floors pipeline (record_floors.py reads
    // bench_last.json only).
    val benchOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
    // Changed-only mode (r14 verdict item 7): at 195 queries the full
    // bench is dominated by fixed per-query overhead, so iteration
    // runs can restrict to queries whose PLAN changed since the last
    // recorded fingerprint (tools/bench_fingerprints.json — normalized
    // executed-plan hashes; a missing/failed fingerprint counts as
    // changed). The fingerprint file is rewritten with the current
    // hashes each changed-mode run. Like BENCH_ONLY, a changed-mode
    // run writes bench_last_partial.json ONLY (it can never poison the
    // floors pipeline); the graded gate always runs the full set.
    val changedMode =
      sys.env.get("SPARK_GRAFT_BENCH_CHANGED").contains("1")
    val spark = QueryRun.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // Untimed warm-up; its caches are dropped before timing.
    QueryRun.warm(spark, sfDir)
    // (The fingerprint pass CONSTRUCTS every query's DataFrame, which
    // for the driver-loop queries — bisections, kmeans/PQ builds, pca
    // rounds — executes their Spark jobs; a changed-mode run therefore
    // costs roughly one construction pass plus the changed queries'
    // two timed passes. Still well under the full bench (measured
    // 3.3 min vs 5.8 min with nothing changed at sf0.01), and the
    // fingerprints file is only REWRITTEN after the timed passes
    // complete, so an interrupted run never marks its queries as
    // already-benched.)
    val stored =
      if (Files.isRegularFile(Paths.get(FingerprintFile)))
        QueryRun.readFlat(FingerprintFile)
      else Map.empty[String, String]
    val currentFps =
      if (!changedMode) Nil
      else QueryRun.each(spark, sfDir, QueryRun.select(Nil)) { (_, q) =>
        QueryRun.fingerprint(spark, q).hash
      }
    val changedFilter: Option[Set[String]] =
      if (!changedMode) None
      else {
        val changed = currentFps
          .collect { case (n, fp) if !stored.get(n).contains(fp) => n }.toSet
        System.err.println(s"[bench] changed-mode: ${changed.size} of " +
          s"${currentFps.size} plans changed vs recorded fingerprints; " +
          s"benching only those (partial output)")
        Some(changed)
      }
    // Each query is timed as the ELEMENTWISE MIN OF TWO full passes —
    // the same semantics tools/perf_floors.json records. One pass proved
    // insufficient every round it was tried: the first few alphabetical
    // queries absorb JIT/GC residue the warmup leaves (r4: ext01 1.36 s
    // vs 0.6-0.7 s steady; r6: ext01 6.9x, ext02 4.5x, ext14 2.1x their
    // floors — ~10 s of measurement waste), and the r5 single-query
    // untimed pre-run demonstrably did not absorb it. The min of two
    // passes measures the plan, not the process state it ran in.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val picked = QueryRun.select(benchOnly.getOrElse(Nil))
      .filter(n => changedFilter.forall(_.contains(n)))
    def timedPass(): Map[String, Double] =
      QueryRun.each(spark, sfDir, picked) { (name, q) =>
        val t0 = System.nanoTime()
        // A failed query must not abort the bench, but must be visible
        // in the MACHINE-READABLE output, not just a stderr line: the
        // ext115 sf0.1 ANSI overflow hid for a round because its
        // fail-fast time read as a fast success and poisoned a floor.
        try q().count() catch {
          case t: Throwable =>
            System.err.println(s"[bench] $name FAILED: $t")
            failed += name
        }
        (System.nanoTime() - t0) / 1e9
      }.toMap
    // Explicit serving-artifact build pricing (r18 verdict item 3): the
    // PQ corpus encode became a build-once artifact in r18, so its cost
    // landed in whichever consumer ran first and min-of-two discarded
    // it. Each timed pass now DROPS the two encode artifacts and times
    // their cold rebuild as its own entry — the encode cost is back in
    // the bench total, and the PQ consumers measure pure search in both
    // passes (the ext03-prices-the-LSH-build discipline, applied to the
    // PQ family). Skipped in changed-mode (no plan fingerprint exists
    // for a non-query metric); BENCH_ONLY selects it by name prefix
    // like any query.
    // Two other build-once artifacts have no priced entry: the shingle
    // groups (`shingle-groups:<dir>`, built by ext113 and read by ext149
    // and, through the `lsh-audit` artifact, by ext14/ext54/ext61/ext65/
    // ext70) and the established-corpus bands (`corpus-bands:<dir>`,
    // read by ext36). Pass 1's first consumer absorbs each build and
    // min-of-two keeps pass 2's read, so they are priced by proxy:
    // ext02 builds the same shingle groups from scratch every pass, and
    // ext03 computes MinHash signatures and bands over the full corpus,
    // a superset of the doc_id % 10 >= 2 rows the band table holds.
    val PqBuildName = "bench_pq_index_build"
    if (changedMode)
      System.err.println(s"[bench] changed-mode: $PqBuildName skipped " +
        "(no plan fingerprint for a build metric)")
    def pqBuildPass(): Option[(String, Double)] =
      if (changedMode ||
          !benchOnly.forall(_.exists(PqBuildName.startsWith))) None
      else {
        val t0 = System.nanoTime()
        try registry.Artifacts.rebuildPqEncodeIndexes(spark, sfDir) catch {
          case t: Throwable =>
            System.err.println(s"[bench] $PqBuildName FAILED: $t")
            failed += PqBuildName
        }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        graft.ops.Reuse.freeAll(spark)
        Some(PqBuildName -> dt)
      }
    val pass1 = pqBuildPass().toMap ++ timedPass()
    val pass2 = pqBuildPass().toMap ++ timedPass()
    // changed-mode fingerprints commit only now — after both timed
    // passes — so a crashed/interrupted run leaves the OLD baselines
    // in place and its queries are re-benched next time, never
    // silently skipped as already-recorded.
    if (currentFps.nonEmpty)
      QueryRun.loudly(s"[bench] writing $FingerprintFile")(
        QueryRun.writeFlat(FingerprintFile,
          currentFps.map { case (k, v) => k -> ("\"" + v + "\"") }))
    // What the session has accumulated in build-once artifacts
    // (Reuse.index) across both passes — measured from the block
    // manager, logged so index growth is a number, not an assumption.
    // Stderr: stdout carries only the driver's parse contract below.
    graft.ops.Reuse.indexFootprint(spark).foreach {
      case (key, parts, mem, disk) =>
        System.err.println(
          s"[bench] index footprint: $key parts=$parts " +
            s"memMB=${mem / 1024 / 1024.0} diskMB=${disk / 1024 / 1024.0}")
    }
    val results = pass1.map { case (k, v) =>
      k -> math.min(v, pass2.getOrElse(k, v))
    }
    // 0.1 ms resolution keeps the per-query map compact — the driver
    // captures a fixed-size log tail and full double reprs overflowed it
    // at 68 queries (BENCH_r04 lost its total; r4 verdict item 3).
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val sorted = results.toSeq.sortBy(_._1)
    val qs = sorted
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = fmt(if (results.nonEmpty) results.values.sum else 0.0)
    val failedJson = failed.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    // The complete single-record form is a FILE artifact; stdout gets the
    // per-query map as short lines of <=10 queries (a 77-entry single
    // line overflowed the driver's fixed-size log tail — BENCH_r05
    // "parsed": null) and then exactly ONE line carrying
    // "metric":"total", printed LAST so any tail capture ends with it.
    // (One total line only: the r5 duplicate double-counted in
    // sum-all-records consumers — r5 ADVICE.)
    val lastFile =
      if (benchOnly.isDefined || changedMode) "bench_last_partial.json"
      else "bench_last.json"
    QueryRun.loudly(s"[bench] writing $lastFile")(
      Files.writeString(Paths.get(lastFile), full + "\n"))
    sorted.grouped(10).zipWithIndex.foreach { case (grp, i) =>
      val part = grp.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"query_times","part":${i + 1},"queries":$part}""")
    }
    // One COMPACT all-queries record immediately before the total line
    // (r18 verdict item 2): the driver keeps a fixed-size log tail, so
    // on a 200-query registry the 10-query part lines scroll out and
    // PERF's per_query came back empty. A 2-decimal single line is
    // ~4 KB — whatever tail holds the total line now also holds the
    // densest possible per-query record. The part lines above stay for
    // humans and for full-resolution diffing of the captured region.
    def fmt2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qsAll = sorted
      .map { case (k, v) => "\"" + k + "\":" + fmt2(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"query_times_all","queries":$qsAll}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":{},"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}


/** Plan-string canonicalization for the changed-only bench mode —
  * extracted from Bench.main (r18) so the safe/unsafe-direction
  * probes live in a ScalaTest spec (PlanFingerprintSpec) instead of
  * ad-hoc two-JVM scripts; `diff -r` of two PlanDump dumps from
  * separate JVMs remains the end-to-end check. */
private[graft] object PlanFingerprint {
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  // Strip the run-varying parts of a plan string (expression ids,
  // codegen stage ids, cached-plan ids, object identity hashes,
  // file paths/listing hashes) so the hash is stable across
  // sessions for an unchanged plan. Each rule targets a KNOWN
  // session-varying shape only — the r15 blanket `(\d+)` strip
  // also swallowed genuine literal constants (a changed limit or
  // interpolated budget could hash identical to the old plan:
  // the UNSAFE direction — r15 ADVICE), so codegen stage ids
  // are now matched by their `*(N)` / `WholeStageCodegen (N)`
  // rendering specifically and numeric literals stay hashed.
  // The one structural variance left after those rules is the
  // multi-distinct Expand rewrite (r15's residual ~5): gid
  // VALUES and distinct-group/key ORDER are assigned per
  // session, a pure permutation of the same groups. Lines
  // mentioning gid# are canonicalized BRACKET-SCOPED (the r16
  // whole-line token-multiset sort could hash a genuine
  // structural change — a grouping column swapped ACROSS
  // projections permutes the same line-wide tokens — as
  // unchanged: the unsafe direction, r16 ADVICE): each
  // innermost [...] group becomes its own sorted token set
  // (digits kept, so a changed literal still changes it); in
  // Expand projections the TRAILING integer is the group's
  // session-assigned gid value and `gid# = N` comparisons
  // carry the same index — both neutralized to ~ so a pure
  // group permutation (which renumbers them) hashes equal;
  // text outside brackets keeps its order and the group LIST
  // is sorted as a multiset (group order is session-assigned).
  // A cross-projection column swap changes some group's token
  // set, so it now reads as changed. Measured: a no-change
  // second run re-benches 0 queries (two fresh JVMs, all plans
  // diffed), and a 100→200 literal probe reads as changed.
  // The distinct-key ORDER also permutes inside parenthesized
  // arg lists (hashpartitioning(k1, k2, gid#, 32)) which the
  // bracket pass never touches — sort those args (top-level
  // commas only; a genuine key-set change still changes the
  // multiset). gid-lines only.
  def sortCallArgs(line: String, fn: String): String = {
    val idx = line.indexOf(fn + "(")
    if (idx < 0) return line
    var i = idx + fn.length + 1
    var depth = 1
    while (i < line.length && depth > 0) {
      val c = line.charAt(i)
      if (c == '(') depth += 1 else if (c == ')') depth -= 1
      i += 1
    }
    if (depth != 0) return line
    val inner = line.substring(idx + fn.length + 1, i - 1)
    val args = scala.collection.mutable.ArrayBuffer.empty[String]
    // comma split tracks BRACKET depth alongside parens (r17 ADVICE:
    // an arg carrying a bracketed comma list — keys=[k1, k2] — was
    // split mid-bracket and sorted across the boundary, the unsafe
    // direction)
    var d = 0
    val sb = new StringBuilder
    inner.foreach { c =>
      if (c == '(' || c == '[') d += 1
      if (c == ')' || c == ']') d -= 1
      if (c == ',' && d == 0) { args += sb.toString.trim; sb.clear() }
      else sb += c
    }
    args += sb.toString.trim
    line.substring(0, idx) + fn + "(" +
      args.sorted.mkString(", ") + ")" +
      sortCallArgs(line.substring(i), fn)
  }
  def canonGidLine(ln: String): String = {
    val l0raw = sortCallArgs(ln.replaceAll(
      "gid#\\s*(=|<=>)\\s*\\d+", "gid# $1 ~"), "hashpartitioning")
    val isExpand = l0raw.contains("Expand")
    // POSITIONAL gid-value neutralization (r18): Expand renders
    // `[[proj1], [proj2], ...], [outputCols]` and the session-
    // assigned gid VALUE sits at the gid COLUMN's index in each
    // projection — which is only the TRAILING element when gid is
    // the last output column. ext66's pre-checkpoint sub-plan (made
    // hashable by the r18 planlog) renders
    // `[[null, null, 0, c#L, t#L], ...], [lang#, source#, gid#, c#L,
    // t#L]` — gid mid-list — so the trailing-int rule missed it and
    // the per-session distinct-group order flipped the hash (1 of
    // 203 across two JVMs). Here: find gid's index in the LAST
    // bracket group (the output list), neutralize the integer at
    // that index in every projection group; genuine literals at
    // other positions stay hashed. The trailing-int rule below
    // remains as the fallback for renderings without an output list
    // on the same line.
    val l0 =
      if (!isExpand) l0raw
      else {
        val inner = "\\[[^\\[\\]]*\\]".r.findAllIn(l0raw).toSeq
        if (inner.size < 2) l0raw
        else {
          val outToks = inner.last.substring(1, inner.last.length - 1)
            .split("[,\\s]+").filter(_.nonEmpty)
          val gi = outToks.indexWhere(_.startsWith("gid#"))
          if (gi < 0) l0raw
          else inner.init.distinct.foldLeft(l0raw) { (s, g) =>
            val toks = g.substring(1, g.length - 1)
              .split("[,\\s]+").filter(_.nonEmpty)
            if (gi < toks.length && toks(gi).matches("\\d+"))
              s.replace(g, "[" + toks.updated(gi, "~")
                .mkString(", ") + "]")
            else s
          }
        }
      }
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[String]
    // innermost-bracket replacement ITERATED TO FIXPOINT: a
    // regex character class literal ('[^a-z0-9 ]') is itself an
    // innermost bracket group, so the enclosing keys=[...] list
    // only becomes innermost on a later pass (the r17 residual
    // — 3 of 202 plans flipped per bench run until this). Each
    // group is tagged with its fixpoint pass index (1 = innermost)
    // before the multiset sort (r17 verdict nick 2: untagged, a
    // token set MIGRATING between nesting depths — a key list
    // moving from an inner functions=[...] into the outer
    // keys=[...] — hashed unchanged; the pass index is exactly the
    // group's distance from the innermost level, so a depth-only
    // migration now changes its tag).
    var cur = l0
    var changed = true
    var pass = 1
    while (changed) {
      val next = "\\[[^\\[\\]]*\\]".r.replaceAllIn(cur, m => {
        val toks = m.matched.substring(1, m.matched.length - 1)
          .split("[,\\s]+").toSeq.filter(_.nonEmpty)
        val t2 =
          if (isExpand && toks.nonEmpty &&
              toks.last.matches("\\d+")) toks.init :+ "~"
          else toks
        groups += s"$pass:" + t2.sorted.mkString(" ")
        "&"
      })
      changed = next != cur
      cur = next
      pass += 1
    }
    cur + " | " + groups.sorted.mkString(" ; ")
  }
  // Higher-order-function lambda variables render as `lambda x_N#id`,
  // N a JVM-wide counter that every lambda CONSTRUCTED earlier bumps:
  // the warm-up, an artifact build (a cold checkout's first run seeds
  // the bucketed layout and stores) or a repeated construction all
  // shift it, so an unchanged plan hashed differently (ext02, ext14,
  // ext113, ext149 and op38_store_payload on a cold run). Each distinct
  // variable is renumbered by first appearance: the offset goes, which
  // variable is bound or used where stays hashed.
  def canonLambdaVars(s: String): String = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    "lambda (\\w+)_(\\d+)#".r.replaceAllIn(s, m =>
      s"lambda ${m.group(1)}_~${ids.getOrElseUpdate(m.matched, ids.size)}#")
  }
  def normalize(s: String): String = {
    val base = canonLambdaVars(s)
      .replaceAll("#\\d+", "#")
      .replaceAll("\\*\\(\\d+\\)", "*()")
      .replaceAll("WholeStageCodegen \\(\\d+\\)",
        "WholeStageCodegen ()")
      .replaceAll("file:[^\\s,)\\]]+", "file:~")
      .replaceAll("\\[[0-9]+ paths\\]", "[~]")
      .replaceAll("plan_id=\\d+", "plan_id=~")
      .replaceAll("@[0-9a-fA-F]+", "@~")
      // the bucketed layout's table names carry the SF dir's path
      .replaceAll("graft_(li|ord)_b_\\w+", "graft_$1_b_~")
    base.linesIterator.map { ln =>
      if (ln.contains("gid#")) canonGidLine(ln)
      else ln
    }.mkString("\n").replaceAll("\\s+", " ")
  }
}
