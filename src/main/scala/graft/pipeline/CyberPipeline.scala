package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.er.{EntityResolution, HeuristicNerModel, NerModel}
import graft.etl.{Alerts, GitHub, Mitre, Nvd}
import graft.graph.GraphExport
import graft.sources.Checkpoints
import graft.text.TextClean

/** End-to-end pipeline (reference: data_integration.ipynb §3.1 stages
  * A-D + the Neo4j export edge): NVD parse → MITRE techniques → alert
  * munge/extraction → NER + entity resolution → GitHub enrichment →
  * named node/edge CSV set.
  *
  * Every stage boundary is a content-keyed parquet checkpoint
  * ([[Checkpoints.checkpoint]]) — the reference's feather-cache pattern,
  * keyed by the files each stage reads (not by its code or NER model): a
  * re-run resumes from the last stage whose inputs are unchanged, and each
  * stage's lineage is cut so the final export doesn't re-parse NVD JSON.
  *
  * The two genuinely-external boundaries stay pluggable: NER inference is
  * a [[NerModel]] (N2) and the GitHub API payloads arrive as parquet of
  * the fetch output (S6 — the fetch loop itself is not an engine op).
  */
case class PipelineConfig(
    nvdGlob: String,
    mitreBundle: String,
    alertsParquet: String,
    workDir: String,
    outDir: String,
    githubLanguagesParquet: Option[String] = None,
    githubContributorsParquet: Option[String] = None,
    erThresholds: Map[String, Double] = Map(),
    quoteAll: Boolean = true,
    rssFeedDir: Option[String] = None,
    /** Learned ER pair scorer (J7's spark.ml variant): when set, stage D
      * clusters with P(match) from this model instead of the threshold
      * features; the 0.5 default threshold is the sigmoid's natural
      * decision boundary (EntityResolution.cluster doc).
      */
    erScorer: Option[org.apache.spark.ml.classification.LogisticRegressionModel] = None,
    /** ER blocking digit-gram policy (EntityResolution.blockPairs doc):
      * the production default drops PURE-digit 3-grams from the gram
      * blocking channel; set false for vocabularies where entity
      * identity rides digit strings (the measured opt-out boundary —
      * EntityResolution.blockingAdvisory reads which side a corpus is
      * on).
      */
    erDropPureDigitGrams: Boolean = true)

object CyberPipeline {

  /** Run all stages; returns exported-table row counts (read back from
    * the written CSVs).
    */
  def run(spark: SparkSession, conf: PipelineConfig,
          nerModel: NerModel = HeuristicNerModel): Map[String, Long] = {
    implicit val s: SparkSession = spark
    val work = conf.workDir

    // stage A: NVD JSON → cve/reference/cpe tables (c23-c25). The
    // multiLine JSON parse is the hottest cold-run loop (~80 min on the
    // full corpus), so the scan is SHARED via persist across the three
    // consumers (Nvd.parseAll's shape) instead of re-parsing four times
    // (cpeNodes alone references the parse twice), and released once the
    // checkpoints are on disk. Runs that reuse all three never parse.
    var itemsTouched = false
    lazy val items = { itemsTouched = true; Nvd.readItems(spark, conf.nvdGlob).persist() }
    val nvd = Seq(conf.nvdGlob)
    val cves = Checkpoints.checkpoint(Nvd.cveNodes(items), s"$work/cve_node_data", nvd)
    val refs = Checkpoints.checkpoint(Nvd.cveReferences(items), s"$work/cve_references", nvd)
    val cpes = Checkpoints.checkpoint(Nvd.cpeNodes(items), s"$work/cpe_node_data", nvd)
    if (itemsTouched) items.unpersist(blocking = false)

    // stage B: MITRE STIX bundle → techniques (mitre_json_to_csv.py)
    val techniques = Checkpoints.checkpoint(
      Mitre.techniques(spark, Mitre.readBundle(spark, conf.mitreBundle)),
      s"$work/enterprise_attack", Seq(conf.mitreBundle))

    // stage C0 (optional, S4 streaming): RSS/Atom advisories drained
    // through the production file-sink shape — readStream over the feed
    // drop dir, AvailableNow trigger, parquet sink + checkpoint under the
    // work dir (so a re-run reprocesses only NEW feed files), read back
    // and adapted to the scraped-alerts schema. Productionizes the
    // reference's abandoned feedparser probe (alerts/parse_alert.ipynb
    // c1-c11) per SURVEY §7: the feed path and the scrape path meet
    // BEFORE cleanup, so every downstream stage treats both identically.
    val scraped = spark.read.parquet(conf.alertsParquet)
    val (rawAlerts, alertInputs) = conf.rssFeedDir match {
      case None => (scraped, Seq(conf.alertsParquet))
      case Some(feedDir) =>
        import org.apache.spark.sql.streaming.Trigger
        val sink = s"$work/rss_entries"
        val q = graft.sources.Rss.readStream(spark, feedDir).writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$sink/data")
          .option("checkpointLocation", s"$sink/chk")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
        // an empty feed dir produces no sink output at all — read back
        // well-typed either way (entrySchema pins the column types)
        val data = new org.apache.hadoop.fs.Path(s"$sink/data")
        val entries =
          if (data.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(data))
            spark.read.schema(graft.sources.Rss.entrySchema).parquet(s"$sink/data")
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            graft.sources.Rss.entrySchema)
        // drained entries are new sink files: they re-key alerts_clean
        (scraped.unionByName(
          graft.sources.Rss.entriesAsAlerts(entries)
            .select(scraped.columns.map(col).toSeq: _*)),
         Seq(conf.alertsParquet, s"$sink/data"))
    }

    // stage C: scraped (+ feed) alerts → munge + CVE/TTP extraction
    // (c7-c18)
    val alerts = Checkpoints.checkpoint(
      Alerts.cleanAlerts(rawAlerts),
      s"$work/alerts_clean", alertInputs)
    val alertNodes = Alerts.alertNodes(alerts)
    val alertCve = Alerts.alertCveEdges(alerts)
    val alertTtp = Alerts.alertTtpEdges(alerts, techniques)

    // stage D: NER mentions → clean → cluster → best labels + weights
    // (c27-c49). Mention labels get the fold/cleanup cascade; the entity
    // vocabulary (distinct labels) receives deterministic dense ids via a
    // global row_number — the vocab is orders of magnitude smaller than
    // the corpus, so the single-partition window is a metadata-scale sort.
    val mentions = nerModel.annotate(alerts, "text")
      .withColumn("label",
        TextClean.cleanNerLabel(TextClean.asciiFold(col("label"))))
      .filter(length(trim(col("label"))) > 0)
      .withColumn("type", TextClean.normalizeNerType(col("type")))
    val vocab = mentions.select(col("label"), col("type")).distinct()
      .withColumn("id",
        row_number().over(Window.orderBy(col("type"), col("label"))).cast("long"))
    val ner = Checkpoints.checkpoint(
      mentions.join(vocab, Seq("label", "type"))
        .select(col("alert_id"), col("id"), col("label"), col("type")),
      s"$work/alert_ner", Seq(s"$work/alerts_clean"))
    val (clustered, best, weights) =
      EntityResolution.resolve(ner, conf.erThresholds,
        defaultThreshold = if (conf.erScorer.isDefined) 0.5 else 0.6,
        scorer = conf.erScorer,
        dropPureDigitGrams = conf.erDropPureDigitGrams)
    val nerNodes = clustered.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("weight"))
      .join(best.select(col("cluster_id"), col("best_label").as("ner")), Seq("cluster_id"))
      .select(col("ner"), col("cluster_id"), col("weight"))

    // stage E: GitHub payloads → per-CVE language/user edges (c52-c75)
    val ghUrls = GitHub.githubRefUrls(refs)
      .withColumn("repo_url", GitHub.repoApiUrl(col("url")))
    val ghTables: Map[String, DataFrame] =
      conf.githubLanguagesParquet.map { p =>
        val langs = GitHub.languagesTable(spark.read.parquet(p))
        "github_langs_merged" -> GitHub.joinToRefs(ghUrls, langs, Seq("language"))
          .select(col("cve_id"), col("language"), col("bytes").as("ratio"))
          .distinct()
      }.toMap ++
      conf.githubContributorsParquet.map { p =>
        val contribs = GitHub.contributorsTable(spark.read.parquet(p))
        "github_usernames_merged" -> GitHub.joinToRefs(ghUrls, contribs, Seq("logins"))
          .select(col("cve_id"), col("logins").as("login"))
          .distinct()
      }.toMap

    // stage F: K6 export — the named CSV set (README.md:11-22)
    val counts = GraphExport.writeAll(
      Map(
        "alert_nodes" -> alertNodes,
        "alert_cve_edge" -> alertCve,
        "alert_ttp_data" -> alertTtp,
        "cve_node_data" -> cves,
        "cve_references" -> refs,
        "cpe_node_data" -> cpes,
        "enterprise_attack" -> techniques,
        "ner_node" -> nerNodes,
        "alert_ner_label_weights" -> weights) ++ ghTables,
      conf.outDir, quoteAll = conf.quoteAll)
    // resolve() caches `clustered` for its three consumers; the exports
    // above are the last of them, so release it — a long-lived session
    // running the pipeline repeatedly must not accumulate corpus-sized
    // cache residents (the 9b5934e graph-cache-leak class)
    clustered.unpersist(blocking = false)
    counts
  }

  /** args: nvdGlob mitreBundle alertsParquet workDir outDir
    * [languagesParquet contributorsParquet]
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.tools.ToolSession.local(
      defaultCpus = "4", shuffleFromCpus = true)
    val conf = PipelineConfig(
      nvdGlob = args(0), mitreBundle = args(1), alertsParquet = args(2),
      workDir = args(3), outDir = args(4),
      githubLanguagesParquet = args.lift(5),
      githubContributorsParquet = args.lift(6))
    val counts = CyberPipeline.run(spark, conf)
    counts.toSeq.sortBy(_._1).foreach { case (n, c) => println(s"$n: $c rows") }
    spark.stop()
  }
}
