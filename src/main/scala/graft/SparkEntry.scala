package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CoreQueries, ExtQueries, QuerySpec}

/** Entry contract — see SURVEY.md §7. The three maps are projections
  * of one registry, [[CoreQueries.queries]] ++ [[ExtQueries.queries]]. */
object SparkEntry {

  private lazy val registry: Seq[QuerySpec] =
    QuerySpec.unique(CoreQueries.queries ++ ExtQueries.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Uses the 5-way join + agg shape (q05) so the smoke path exercises
    * scan, broadcast join, shuffle agg, and sort in one plan. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_join_multi")(spark, "/root/testdata/sf0.001")

  /** Every entry with an oracle: the correctness surface. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.collect { case QuerySpec(n, build, Some(_)) => n -> build }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.collect { case QuerySpec(n, _, Some(sql)) => n -> sql }.toMap

  /** Bench-only timings (no oracle) — merged into the benchmark
    * inventory by [[Bench]], NEVER into [[queries]]: they must not
    * dilute the 282-entry correctness surface. */
  def benchExtra: Map[String, (SparkSession, String) => DataFrame] =
    registry.collect { case QuerySpec(n, build, None) => n -> build }.toMap
}
