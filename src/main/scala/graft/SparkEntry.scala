package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.graph.GraphQueries
import graft.operators.{AnnOps, DedupOps, EventsOps, Relational, TextOps}
import graft.streaming.StreamingOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every registered [[QueryDef]] is one operator-coverage claim from
  * SURVEY.md §2 (or the training-data-pipeline extension set); each carries
  * a DuckDB oracle unless genuinely non-SQL-expressible.
  */
object SparkEntry {
  val registry: Seq[QueryDef] =
    Relational.all ++ TextOps.all ++ DedupOps.all ++ AnnOps.all ++
      EventsOps.all ++ StreamingOps.all ++ GraphQueries.all ++
      graft.pipeline.CorpusPipeline.all ++ graft.operators.SketchOps.all ++
      graft.multimodal.Multimodal.all ++ graft.operators.RetrievalOps.all ++
      graft.operators.IndexStore.all ++ graft.operators.EpochIndex.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the 5-table broadcast join + exact grouped revenue (q03).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.q03.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. ListMap keeps
    * registry order, so Verify/Bench iterate deterministically. No gate's
    * result depends on that order (MemoOrderSpec runs the graph and
    * dedup families forward, alone and reversed).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(
      registry.map(q => q.name -> q.run): _*)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
