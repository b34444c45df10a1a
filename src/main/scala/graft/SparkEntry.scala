package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every QueryPack: each entry is one operator from the
  * SURVEY.md §2 inventory, and (where the semantics are SQL-expressible)
  * carries a DuckDB oracle with identical column names and total ordering.
  */
object SparkEntry {

  val packs: Seq[QueryPack] =
    Seq(Relational, Analytic, Events, Text, Embeddings, MultimodalPack, Extras)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape — the direct analog of the reference's revenue pipeline
    * (internal/templates/files/sql/local/03_create_processing.sql) with the
    * aggregation surface its LLM prompts require. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_tpch_q1_agg")(spark, "/root/testdata/sf0.001")

  /** Query names kept only because the oracle's query set is frozen,
    * each mapped to the query it now is: an alias runs its target's
    * query and is checked against its target's oracle. */
  val aliases: Map[String, String] = Map(
    "dedup_components_star" -> "dedup_components",
    "dedup_semdedup_local" -> "dedup_semdedup")

  /** One entry per implemented operator from SURVEY.md §2, aliases
    * included. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    withAliases(packs.flatMap(_.queries).toMap)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (approximate LSH/SimHash candidates, mapPartitions stubs) → driver
    * records a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    withAliases(packs.flatMap(_.oracles).toMap)

  private def withAliases[V](byName: Map[String, V]): Map[String, V] =
    byName ++ aliases.map { case (alias, target) => alias -> byName(target) }
}
