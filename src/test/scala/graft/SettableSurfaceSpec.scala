package graft

import org.scalatest.funsuite.AnyFunSuite

/** The settable surface of `src/main`: every environment variable and
  * every `graft.*` property or session-conf key it reads. A new knob
  * fails here until the list below is edited on purpose. */
class SettableSurfaceSpec extends AnyFunSuite {

  private val EnvKeys = Set(
    "SPARK_MASTER",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_CONFS",
    "SPARK_GRAFT_FLOORS",
    "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_CHANGED",
    "SPARK_GRAFT_PLAN_MODE",
    "SPARK_GRAFT_PLAN_BUDGETS",
    "SPARK_GRAFT_PLANDUMP_WARM")

  private val GraftKeys = Set(
    "graft.reuse.planlog",
    "graft.textrank.bcastMaxVerts")

  private def sources = MainSources.all

  test("src/main reads exactly the listed environment variables, each " +
      "by a literal key") {
    assert(sources.size > 20, "src/main/scala not found from the test dir")
    val read = """(sys\.env|System\.getenv)""".r
    val literal =
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
    val unnamed = sources.flatMap { case (p, src) =>
      val n = read.findAllMatchIn(src).size
      val named = literal.findAllMatchIn(src).size
      if (n != named) Some(s"$p: ${n - named} read(s) without a literal key")
      else None
    }
    assert(unnamed.isEmpty, unnamed.mkString("; "))
    val keys = sources.flatMap { case (_, src) =>
      literal.findAllMatchIn(src).map(_.group(1)) }.toSet
    assert(keys == EnvKeys,
      s"added: ${(keys -- EnvKeys).toSeq.sorted}; " +
        s"gone: ${(EnvKeys -- keys).toSeq.sorted}")
  }

  test("src/main names exactly the listed graft.* property and conf keys") {
    val key = """"(graft\.[A-Za-z0-9_.]+)"""".r
    val keys = sources.flatMap { case (_, src) =>
      key.findAllMatchIn(src).map(_.group(1)) }.toSet
    assert(keys == GraftKeys,
      s"added: ${(keys -- GraftKeys).toSeq.sorted}; " +
        s"gone: ${(GraftKeys -- keys).toSeq.sorted}")
  }
}
