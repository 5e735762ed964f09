package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Tables

/** The ONE local-session builder for the driver-contract mains (Verify,
  * Bench, CyberPipeline) and the `graft.tools` drivers (PipelineBench,
  * ScaleData, SkewData, StreamBatchBench). Each used to
  * inline the identical six-line incantation —
  * requiredConf fold, `SPARK_GRAFT_CPUS` master, 32 shuffle partitions,
  * UTC session timezone, UI off — and the copies had already started to
  * drift (one missing the UTC pin, one hardcoding the core count). A
  * config change now lands in exactly one place.
  */
object ToolSession {
  /** `defaultCpus` is the fallback when SPARK_GRAFT_CPUS is unset;
    * `shuffleFromCpus = true` sizes shuffle partitions to the core count
    * (the driver-contract mains' convention — Verify/Bench/CyberPipeline
    * run narrow local sessions where 32-wide shuffles just add overhead).
    */
  def local(defaultCpus: String = "32",
            shuffleFromCpus: Boolean = false): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = Tables.requiredConf.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", if (shuffleFromCpus) cpus else "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
