package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggs.queries("agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every operator module, declared once as (name, queries, oracles).
    * Both contract maps below fold over it in this order, so a key
    * declared in two modules would keep the later one; DocSyncSpec
    * forbids that. */
  def modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame],
      Map[String, String])] = Seq(
    ("Relational", Relational.queries, Relational.oracles),
    ("Aggs", Aggs.queries, Aggs.oracles),
    ("Joins", Joins.queries, Joins.oracles),
    ("Scalars", Scalars.queries, Scalars.oracles),
    ("Windows", Windows.queries, Windows.oracles),
    ("Text", Text.queries, Text.oracles),
    ("Vector", Vector.queries, Vector.oracles),
    ("Udx", Udx.queries, Udx.oracles),
    ("Streams", graft.streaming.Streams.queries,
      graft.streaming.Streams.oracles),
    ("TextQuality", TextQuality.queries, TextQuality.oracles),
    ("Dedup", Dedup.queries, Dedup.oracles),
    ("Ann", Ann.queries, Ann.oracles),
    ("Multimodal", Multimodal.queries, Multimodal.oracles),
    ("Pipeline", Pipeline.queries, Pipeline.oracles),
    ("Sinks", Sinks.queries, Sinks.oracles),
    ("Analytics", Analytics.queries, Analytics.oracles),
    ("Warehouse", Warehouse.queries, Warehouse.oracles),
    ("Bpe", Bpe.queries, Bpe.oracles))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._2).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.map(_._3).reduce(_ ++ _)
}
