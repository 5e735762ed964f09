package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
  private def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    dirs += d
    d.toString
  }

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  private def cyber(seed: Long): (String, Gen.CyberFacts) = {
    val dir = tempDir("perfbench-gen")
    val facts = Gen.cyber(spark, dir, seed)
    (Gen.digest(spark, dir), facts)
  }

  private def corpus(seed: Long): String = {
    val dir = tempDir("perfbench-corpus")
    Gen.corpus(spark, dir, seed)
    Gen.digest(spark, dir)
  }

  test("cyber inputs are deterministic per seed and differ across seeds") {
    val (a, fa) = cyber(7)
    val (b, fb) = cyber(7)
    val (c, _) = cyber(8)
    assert(a == b)
    assert(fa == fb)
    assert(a != c)
  }

  test("retrieval corpus is deterministic per seed and differs across seeds") {
    assert(corpus(3) == corpus(3))
    assert(corpus(3) != corpus(4))
  }

  test("generator facts match the reference shapes") {
    val (_, f) = cyber(1)
    assert(f.cves == 21L * 300)
    assert(f.alerts == 286 + 2 * 20) // scraped plus two feed files
    assert(f.alertCves.size >= f.alerts)
    assert(f.q6Start.startsWith("CVE-"))
  }
}
