package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 (the binding operator inventory)
  * and §7 (build plan). Each §2 key is declared once, as a
  * `Decl(query, oracleSql)` in the `decls` of one module: ten core modules
  * (relational, aggregates, windows, scalars, ADT, salted joins, the
  * pipeline pair, interop, streams), `TpchRest`, and nine domain modules
  * in `graft.operators` (Graph, Lakehouse, Mix, RelOps, Similarity,
  * SqlSurface, Stats, Text, TimeSeries). This object only merges them.
  */
object SparkEntry {

  /** `declMap` fails on a key declared in two modules. REGISTRY.md
    * (tools/registry.py) maps each key to its file:line. */
  private lazy val registry: Map[String, Decl] = declMap(Seq(
    operators.Relational.decls,
    operators.Aggregates.decls,
    operators.Windows.decls,
    functions.Scalars.decls,
    operators.AdtQueries.decls,
    operators.Salted.decls,
    operators.Pipeline.decls,
    operators.PipelineExt.decls,
    operators.Interop.decls,
    operators.Streams.decls,
    operators.TpchRest.decls,
    operators.Graph.decls,
    operators.Lakehouse.decls,
    operators.Mix.decls,
    operators.RelOps.decls,
    operators.Similarity.decls,
    operators.SqlSurface.decls,
    operators.Stats.decls,
    operators.Text.decls,
    operators.TimeSeries.decls).flatten: _*)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The 5-way star join + aggregate — scan, broadcast dims, shuffle agg.
    */
  def entry(spark: SparkSession): DataFrame =
    registry("join_multiway_star").query(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, v) => k -> v.query }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, Decl(_, Some(sql))) => k -> sql }
}
