package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite with graft.SparkTestSession {

  test("checkpoint: computes once, then reads from disk (skip-if-exists)") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val tmp = Files.createTempDirectory("ckpt")
    val dir = s"$tmp/stage1"
    val input = Files.createDirectories(tmp.resolve("in")).resolve("part-0")
    Files.write(input, "a".getBytes("UTF-8"))
    var computes = 0
    def expensive = { computes += 1; Seq(1, 2, 3).toDF("x") }
    def stage() = Checkpoints.checkpoint(expensive, dir, Seq(s"$tmp/in"))
    val first = stage()
    assert(first.count() == 3 && computes == 1)
    val second = stage()
    assert(second.count() == 3)
    assert(computes == 1, "second call must skip recompute")
    // an unchanged input skips, and hidden names (commit markers,
    // checksums) are not part of the key
    Files.write(tmp.resolve("in/_SUCCESS"), Array.emptyByteArray)
    Files.write(tmp.resolve("in/.part-0.crc"), "x".getBytes("UTF-8"))
    stage()
    assert(computes == 1, "unchanged input must skip recompute")
    // a rewritten input file recomputes
    Files.write(input, "bb".getBytes("UTF-8"))
    assert(stage().count() == 3 && computes == 2, "changed input must recompute")
    stage()
    assert(computes == 2)
    // a run interrupted between the parquet commit and the key write
    // leaves no _INPUTS: the next call recomputes
    Files.delete(java.nio.file.Paths.get(s"$dir/_INPUTS"))
    stage()
    assert(computes == 3, "a missing key file must recompute")
    stage()
    assert(computes == 3)
  }

  test("rate limiter: sleeps only when the window budget is exhausted") {
    var clock = 0L
    var slept = Vector.empty[Long]
    val rl = new RateLimiter(2, 1000,
      now = () => clock,
      sleep = ms => { slept :+= ms; clock += ms })
    rl.acquire(); rl.acquire() // budget of 2 used, no sleep
    assert(slept.isEmpty)
    rl.acquire() // third within the window -> sleeps the remainder
    assert(slept == Vector(1000L))
    clock += 10
    rl.acquire() // fresh window has budget
    assert(slept.size == 1)
  }

  test("SQL surface: gate queries are answerable via spark.sql temp views") {
    graft.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val viaSql = spark.sql(
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer
         GROUP BY c_mktsegment ORDER BY c_mktsegment""").collect()
    val viaDf = {
      import org.apache.spark.sql.functions._
      graft.Tables.load(spark, "/root/testdata/sf0.001", "customer")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment")).collect()
    }
    assert(viaSql.map(r => (r.getString(0), r.getLong(1))).toSeq ==
           viaDf.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }
}
