package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Direction probes for the changed-only bench's plan canonicalizer
 * ([[PlanFingerprint]], extracted from Bench.main in r18 so these
 * probes are a spec, not ad-hoc two-JVM scripts — `diff -r` of two
 * PlanDump dumps from separate JVMs remains the end-to-end
 * session-variance check).
 *
 * SAFE direction = session-varying noise (exprIds, codegen stage
 * ids, gid values, distinct-group order) must hash EQUAL, or
 * changed-mode re-benches queries whose plans did not change.
 * UNSAFE direction = a genuine structural/literal change must hash
 * DIFFERENT, or a real plan change escapes re-benching (and a stale
 * floor survives) — every r15-r17 ADVICE hole was in this direction.
 */
class PlanFingerprintSpec extends AnyFunSuite {
  private def fp(s: String): String =
    PlanFingerprint.md5hex(PlanFingerprint.normalize(s))

  test("safe: exprIds, codegen stage ids, plan ids, identity hashes " +
      "and file paths are session noise") {
    val a = "*(3) HashAggregate(keys=[x#123], functions=[sum(y#45)])" +
      " plan_id=77 @1a2b file:/tmp/a/part-0001"
    val b = "*(9) HashAggregate(keys=[x#456], functions=[sum(y#99)])" +
      " plan_id=12 @ffee file:/tmp/b/part-0777"
    assert(fp(a) == fp(b))
  }

  test("unsafe: a changed literal constant still changes the hash") {
    val a = "GlobalLimit 100"
    val b = "GlobalLimit 200"
    assert(fp(a) != fp(b))
    // ... including inside a gid-canonicalized line
    val ga = "Filter (count#1L > 100) gid#5"
    val gb = "Filter (count#1L > 200) gid#5"
    assert(fp(ga) != fp(gb))
  }

  test("safe: Expand gid renumbering + distinct-group permutation " +
      "hash equal (the multi-distinct rewrite's session variance)") {
    val a = "Expand [[a#1, null, 0], [null, b#2, 1]], [a#3, b#4, gid#5]"
    val b = "Expand [[null, b#2, 0], [a#1, null, 1]], [a#3, b#4, gid#9]"
    assert(fp(a) == fp(b))
    // gid comparison literals carry the same session-assigned index
    assert(fp("Filter (gid# = 1) x") == fp("Filter (gid# = 2) x"))
  }

  test("safe: hashpartitioning arg order permutes per session on gid " +
      "lines") {
    val a = "Exchange hashpartitioning(a#1, b#2, gid#3, 32)"
    val b = "Exchange hashpartitioning(b#2, a#1, gid#3, 32)"
    assert(fp(a) == fp(b))
  }

  test("unsafe: a bracketed comma list rides as ONE hashpartitioning " +
      "arg — cross-bracket key swaps stay distinct (r17 ADVICE: the " +
      "paren-only comma split sorted fragments across the bracket " +
      "boundary, colliding genuinely different plans)") {
    val a = "Exchange hashpartitioning(keys=[a, b], ks=[c, d], gid#1)"
    val b = "Exchange hashpartitioning(keys=[a, d], ks=[c, b], gid#1)"
    // pre-fix both canonicalized to the fragment multiset
    // {b], d], keys=[a, ks=[c, gid#} — identical; now each bracket
    // list is one arg and the swap reads as changed
    assert(fp(a) != fp(b))
    // while a pure ARG permutation (same lists, different order)
    // still reads as session noise
    val c = "Exchange hashpartitioning(ks=[c, d], keys=[a, b], gid#1)"
    assert(fp(a) == fp(c))
  }

  test("unsafe: a cross-projection column swap changes some group's " +
      "token set (the r16 whole-line sort hole stays closed)") {
    val a = "HashAggregate(keys=[a#1, b#2], functions=[sum(c#3)]) gid#4"
    val b = "HashAggregate(keys=[a#1, c#3], functions=[sum(b#2)]) gid#4"
    assert(fp(a) != fp(b))
  }

  test("unsafe: a token set migrating between nesting depths reads " +
      "as changed (r17 verdict nick 2: the untagged group multiset " +
      "hashed a depth-only migration as unchanged)") {
    // three-level nesting, a and b swapped between depths 2 and 3:
    // untagged groups are {c | & b | & a} on both sides — identical
    // multisets; the fixpoint-pass depth tag separates them
    val a = "Project [a [b [c]]] gid#1"
    val b = "Project [b [a [c]]] gid#1"
    assert(fp(a) != fp(b))
  }

  test("safe: bracket-group ORDER (session-assigned) hashes equal on " +
      "gid lines") {
    val a = "Aggregate [k1 k2] [v1 v2] gid#3"
    val b = "Aggregate [v1 v2] [k1 k2] gid#3"
    assert(fp(a) == fp(b))
  }

  test("safe: Expand with a MID-POSITION gid column — the ext66 " +
      "sub-plan shape the r18 planlog made hashable — permutes " +
      "distinct-group order per session and hashes equal") {
    val a = "+- Expand [[null, null, 0, c#1L, t#2L], " +
      "[lang#3, null, 1, null, null], [null, source#4, 2, null, " +
      "null]], [lang#5, source#6, gid#7, c#8L, t#9L]"
    val b = "+- Expand [[null, null, 0, c#1L, t#2L], " +
      "[null, source#4, 1, null, null], [lang#3, null, 2, null, " +
      "null]], [lang#5, source#6, gid#7, c#8L, t#9L]"
    assert(fp(a) == fp(b))
  }

  test("unsafe: a genuine literal at a NON-gid position in an Expand " +
      "projection still changes the hash (the positional rule " +
      "neutralizes only the gid column's index)") {
    val a = "+- Expand [[null, 0, 5, c#1L]], " +
      "[lang#2, gid#3, lit#4, c#5L]"
    val b = "+- Expand [[null, 0, 6, c#1L]], " +
      "[lang#2, gid#3, lit#4, c#5L]"
    assert(fp(a) != fp(b))
  }

  test("safe: the JVM-wide lambda-variable counter and the bucketed " +
      "layout's path-derived table names are session noise") {
    val a = "transform(ids#1, lambdafunction(struct(id_a, lambda x_51#7L, " +
      "id_b, lambda x_53#9L), lambda x_51#7L, false)) " +
      "FileScan parquet spark_catalog.default.graft_li_b__root_a_sf0_1[k#2]"
    val b = "transform(ids#4, lambdafunction(struct(id_a, lambda x_63#3L, " +
      "id_b, lambda x_65#5L), lambda x_63#3L, false)) " +
      "FileScan parquet spark_catalog.default.graft_li_b__root_b_sf0_1[k#6]"
    assert(fp(a) == fp(b))
  }

  test("unsafe: which lambda variable is used where still changes the " +
      "hash (renumbered by first appearance, not erased)") {
    val a = "lambdafunction(struct(id_a, lambda x_51#7L, id_b, " +
      "lambda x_53#9L), lambda x_51#7L, false)"
    val b = "lambdafunction(struct(id_a, lambda x_51#7L, id_b, " +
      "lambda x_51#7L), lambda x_53#9L, false)"
    assert(fp(a) != fp(b))
  }
}
