package perfbench

import java.io.File

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.er.{EntityResolution, FixtureNerModel, NerModel}
import graft.pipeline.PipelineConfig

/** The pipeline half of the benchmark: its configuration, and for the
  * traced run the attribution of `CyberPipeline.run`'s work to its stages.
  */
object Pipelines {

  def config(in: String, work: String, out: String): PipelineConfig =
    PipelineConfig(
      nvdGlob = s"$in/nvd/*.json.gz",
      mitreBundle = s"$in/enterprise-attack.json",
      alertsParquet = s"$in/alerts_raw",
      workDir = work, outDir = out,
      githubLanguagesParquet = Some(s"$in/gh_langs"),
      githubContributorsParquet = Some(s"$in/gh_contribs"),
      rssFeedDir = Some(s"$in/feeds"))

  def ner(spark: SparkSession, in: String): NerModel =
    FixtureNerModel(spark.read.parquet(s"$in/mentions"))

  /** [[graft.pipeline.CyberPipeline.run]]'s stages and the work dir
    * tables (its checkpoints) each one writes.
    */
  private val checkpointStage: Map[String, String] = Map(
    "cve_node_data" -> "etl.nvd.parse",
    "cve_references" -> "etl.nvd.parse",
    "cpe_node_data" -> "etl.nvd.parse",
    "enterprise_attack" -> "etl.mitre.techniques",
    "rss_entries" -> "sources.rss.drain",
    "alerts_clean" -> "etl.alerts.extract",
    "alert_ner" -> "er.ner.annotate")

  /** The stage whose lazy plan an exported table runs. */
  private def exportStage(table: String): String = table match {
    case "ner_node" | "alert_ner_label_weights" => "er.resolve"
    case t if t.startsWith("github_") => "etl.github.join"
    case _ => "graph.export.write"
  }

  /** The stage a module's frame on a call site belongs to (first match). */
  private val moduleStage: Seq[(String, String)] = Seq(
    "graft.etl.Nvd" -> "etl.nvd.parse",
    "graft.etl.Mitre" -> "etl.mitre.techniques",
    "graft.sources.Rss" -> "sources.rss.drain",
    "graft.etl.Alerts" -> "etl.alerts.extract",
    "graft.er.EntityResolution" -> "er.resolve",
    "graft.er." -> "er.ner.annotate",
    "graft.etl.GitHub" -> "etl.github.join")

  /** The stage of [[graft.pipeline.CyberPipeline.run]] a piece of its
    * Spark work belongs to, so that a traced pass times the real run
    * stage by stage: the stage of the table it writes (a checkpoint or an
    * export table), else that of the innermost pipeline module on its
    * call site, else that of a table it reads. None leaves it to
    * [[Tracer.splitByWork]]'s rule for unnamed work.
    */
  def stageOf(conf: PipelineConfig)(e: SparkEvent): Option[String] = {
    def table(path: String): Option[String] = {
      val p = path.stripPrefix("file:")
      def under(dir: String): Option[String] =
        if (p.startsWith(dir + "/")) Some(p.drop(dir.length + 1).takeWhile(_ != '/')) else None
      under(conf.workDir).flatMap(checkpointStage.get)
        .orElse(under(conf.outDir).map(exportStage))
    }
    e.wrote.flatMap(table)
      .orElse(e.callSite.split('\n').iterator.flatMap(frame =>
        moduleStage.collectFirst { case (m, stage) if frame.startsWith(m) => stage }).nextOption())
      .orElse(e.read.iterator.flatMap(table).nextOption())
  }

  /** Pairs ER scores and how many clear the pipeline's 0.6 threshold,
    * from the resolved vocabulary of a finished pass (untimed).
    */
  def erPairs(spark: SparkSession, work: String): (Long, Long) = {
    val labels = spark.read.parquet(s"$work/alert_ner")
      .select(col("id"), col("label"), col("type")).distinct()
    val scored = EntityResolution.scorePairs(EntityResolution.blockPairs(labels), labels)
      .agg(count(lit(1)), count(when(col("score") >= 0.6, 1))).head()
    (scored.getLong(0), scored.getLong(1))
  }

  /** Order-independent content hash of each exported table: the multiset
    * of its CSV lines (record order and part-file names do not matter).
    */
  def exportHashes(out: String): Map[String, String] =
    Option(new File(out).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory).map { t =>
        var n = 0L; var h = 0L
        t.listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try src.getLines().foreach { line =>
            n += 1
            h += (MurmurHash3.stringHash(line, 0x3c074a61).toLong << 32) |
              (MurmurHash3.stringHash(line, 0x17bd9c2f).toLong & 0xffffffffL)
          } finally src.close()
        }
        t.getName -> f"$n%d:$h%016x"
      }.toMap
}
