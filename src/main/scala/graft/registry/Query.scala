package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name (the SURVEY.md operator ids in it), its
  * Spark form over a scale-factor directory, and the DuckDB SQL that
  * must return the same rows over the same parquet tables. */
final case class Query(name: String,
    run: (SparkSession, String) => DataFrame, oracle: String)

object Query {
  /** `decls` as a registry: fails on a name declared twice, naming it
    * (a `Map` would keep the last declaration silently). */
  def registry(decls: Seq[Query]): Seq[Query] = {
    val twice = decls.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name }
    require(twice.isEmpty, "registry: query name declared twice: " +
      twice.toSeq.sorted.mkString(", "))
    decls
  }
}
