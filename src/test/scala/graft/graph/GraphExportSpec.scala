package graft.graph

import java.nio.file.Files

import org.apache.spark.ListenerBusProbe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Csv

class GraphExportSpec extends AnyFunSuite with graft.SparkTestSession {

  private def tables: Map[String, DataFrame] = {
    import spark.implicits._
    Map(
      "nodes" -> spark.range(0, 40).select(col("id"), concat(lit("n"), col("id")).as("name")),
      "edges" -> spark.range(0, 25, 1, 3)
        .select(col("id").as("src"), (col("id") * 7 % 40).as("dst")),
      "labels" -> Seq((1L, "plain"), (2L, "has, comma"), (3L, "has \"quote\""), (4L, null))
        .toDF("id", "label"),
      "empty" -> spark.range(0).select(col("id").as("x")))
  }

  private def lines(path: String): Seq[String] =
    spark.read.text(path).collect().map(_.getString(0)).toSeq.sorted

  test("writeAll: concurrent export counts and CSV lines match a sequential write") {
    val root = Files.createTempDirectory("graph-export").toString
    val counts = GraphExport.writeAll(tables, s"$root/fanout")
    assert(counts.keySet == tables.keySet)
    tables.foreach { case (name, df) =>
      assert(counts(name) == Csv.read(spark, s"$root/fanout/$name").count(), name)
      Csv.write(df, s"$root/seq/$name", quoteAll = true)
      assert(lines(s"$root/fanout/$name") == lines(s"$root/seq/$name"), name)
    }
    assert(counts("nodes") == 40 && counts("edges") == 25 && counts("labels") == 4 &&
      counts("empty") == 0)
  }

  test("writeAll: a table whose plan raises fails the export with that error, leaving no job") {
    val root = Files.createTempDirectory("graph-export-fail").toString
    val bad = spark.range(0, 10).select(
      when(col("id") === 5, raise_error(lit("export boom"))).otherwise(col("id")).as("x"))
    val err = intercept[Exception](GraphExport.writeAll(tables + ("bad" -> bad), root))
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(e => Option(e.getMessage).exists(_.contains("export boom"))), err)
    ListenerBusProbe.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
  }
}
