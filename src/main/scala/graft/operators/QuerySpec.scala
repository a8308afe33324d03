package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One board entry: its DataFrame builder over a dataset dir and the
  * DuckDB oracle SQL that must hash-match it. `oracle = None` marks a
  * bench-only timing entry, outside the correctness surface. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QuerySpec {

  /** `specs` as given, once no two share a name: a `Map` literal would
    * silently keep the later of two equal keys. */
  def unique(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, xs) if xs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }
}
