package graft.graph

import org.apache.spark.sql.DataFrame

import graft.FanOut
import graft.sources.Csv

/** K6: the engine/graph-store boundary — the final node/edge tables as a
  * named CSV set shaped for Neo4j bulk import (reference README.md:11-22:
  * each committed CSV is one `LOAD CSV`/neo4j-admin input; c16-c18, c25).
  *
  * Spark writes a directory of part files per table; `shards` controls
  * the file count (K5 sharded writer — neo4j-admin import accepts
  * multiple CSVs per label, so at 100 TB exports stay parallel instead
  * of coalescing to one file on one executor).
  */
object GraphExport {
  /** Write each named table to `outDir/<name>` as header CSV. Returns
    * per-table row counts (the count is observed from the written data —
    * an export-completeness check, not a separate recompute). The tables
    * are independent, so each table's write and read-back run as one
    * thunk of [[FanOut.inParallel]]: their jobs overlap, and a table that
    * fails cancels the others' jobs before its error is rethrown.
    */
  def writeAll(tables: Map[String, DataFrame], outDir: String,
               quoteAll: Boolean = true, shards: Int = 1): Map[String, Long] = {
    val named = tables.toSeq
    val counts = FanOut.inParallel(named.map { case (name, df) => () =>
      val path = s"$outDir/$name"
      Csv.write(df, path, quoteAll = quoteAll, shards = shards)
      // Csv.read is the documented mirror of Csv.write's quote/escape
      // convention — reading back through it keeps the completeness count
      // valid if that convention ever changes
      Csv.read(df.sparkSession, path).count()
    })
    named.map(_._1).zip(counts).toMap
  }
}
