package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the function that builds its
  * DataFrame from `(session, sfDir)`, and the DuckDB SQL that the
  * oracle compare runs against the same parquet tables. `None` marks a
  * rows-only query (MLlib models, HLL estimates): only a non-empty
  * result is checked, and ScalaTest covers its semantics. */
final case class QuerySpec(name: String, build: QuerySpec.Build, oracle: Option[String])

object QuerySpec {
  type Build = (SparkSession, String) => DataFrame

  /** `name -> build` over `specs`; throws IllegalArgumentException
    * naming every name that more than one spec declares. */
  def queries(specs: Seq[QuerySpec]): Map[String, Build] = {
    val dups = specs.groupBy(_.name).collect { case (n, s) if s.size > 1 => n }
    require(dups.isEmpty, s"duplicate query name(s): ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(s => s.name -> s.build).toMap
  }

  /** `name -> oracle SQL` for the specs that declare one. */
  def oracleSql(specs: Seq[QuerySpec]): Map[String, String] =
    specs.flatMap(s => s.oracle.map(s.name -> _)).toMap
}

/** An operator family: one ordered `specs` list, declared after the
  * builders and SQL it names, and the `queries` map derived from it. */
trait QueryFamily {
  def specs: Seq[QuerySpec]
  lazy val queries: Map[String, QuerySpec.Build] = QuerySpec.queries(specs)
}
