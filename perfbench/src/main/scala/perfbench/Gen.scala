package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input generator. The same seed writes the same inputs; the
  * program under test only ever sees the files written here.
  *
  * Cyber inputs follow the reference's shapes (21 yearly NVD 1.1 gz
  * feeds, a STIX 2.0 bundle, scraped alerts, NER mentions, GitHub API
  * payloads, RSS advisories) at a reduced scale, so that a pipeline pass
  * fits the benchmark's time budget. Unlike the pipeline tool's private
  * generator, CVSS reaches 10.0 (so Q4 has rows) and NER mentions exist
  * for the feed advisories as well as the scraped alerts.
  */
object Gen {

  // cyber input scale
  val NvdPerYear = 300
  val Techniques = 1000
  val Alerts = 286
  val Mentions = 3654
  val Repos = 2000
  val FeedItems = 20

  /** What the generator knows about its own output, for output checks;
    * the alert figures cover the scraped alerts and both feed files.
    */
  final case class CyberFacts(cves: Long, techniques: Long, alerts: Long,
      alertCves: Set[(String, String)], avgCvesPerAlert: Double,
      avgLagDays: Double, q6Start: String)

  private val years: Seq[Int] = 2002 to 2022
  private val nerTypes: Seq[String] = Seq("ORG", "GPE", "PERSON", "PRODUCT")
  private val languages = Seq("Python", "C", "Go", "Rust", "Java", "Shell")

  private def cveId(year: Int, i: Int): String = s"CVE-$year-${10000 + i}"

  /** CVSS v3 base score in [1.0, 10.0]; every 17th item is a 10.0. */
  private def score(i: Int, rnd: java.util.Random): Double =
    if (i % 17 == 0) 10.0 else (rnd.nextInt(90) + 10) / 10.0

  private def writeGz(path: String)(body: BufferedWriter => Unit): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path)), UTF_8), 1 << 16)
    try body(w) finally w.close()
  }

  private def writeText(path: String, s: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), s.getBytes(UTF_8))
  }

  /** Writes the feeds; returns each CVE's publication date. */
  private def genNvd(dir: String, rnd: java.util.Random): Map[String, LocalDate] = {
    new File(dir).mkdirs()
    val published = Map.newBuilder[String, LocalDate]
    years.foreach { year =>
      writeGz(s"$dir/nvdcve-1.1-$year.json.gz") { w =>
        w.write("""{"CVE_data_type":"CVE","spec":"1.1","CVE_Items":[""")
        var i = 0
        while (i < NvdPerYear) {
          if (i > 0) w.write(",")
          val repo = rnd.nextInt(Repos)
          val ghRef = if (rnd.nextInt(20) == 0)
            s""",{"url":"https://github.com/org$repo/repo$repo","name":"gh","refsource":"MISC","tags":["Exploit"]}"""
          else ""
          val sev = score(i, rnd)
          val impact = if (year >= 2005)
            s""","impact":{"baseMetricV3":{"cvssV3":{"baseScore":$sev,"attackVector":"${if (rnd.nextInt(4) == 0) "LOCAL" else "NETWORK"}"},"exploitabilityScore":${(rnd.nextInt(39) + 1) / 10.0},"impactScore":${(rnd.nextInt(59) + 1) / 10.0}}}"""
          else ""
          val vnd = rnd.nextInt(400)
          val prd = rnd.nextInt(1600)
          val child = if (rnd.nextInt(10) == 0)
            s""","children":[{"cpe_match":[{"vulnerable":true,"cpe23Uri":"cpe:2.3:o:vendor${rnd.nextInt(400)}:product${rnd.nextInt(1600)}:1.0:*:*:*:*:*:*:*"}]}]"""
          else ""
          val tags = if (rnd.nextInt(3) == 0) "\"Patch\",\"Vendor Advisory\"" else "\"Third Party Advisory\""
          val (month, day, hour, minute) =
            (rnd.nextInt(12) + 1, rnd.nextInt(28) + 1, rnd.nextInt(24), rnd.nextInt(60))
          published += cveId(year, i) -> LocalDate.of(year, month, day)
          w.write(
            s"""{"cve":{"CVE_data_meta":{"ID":"${cveId(year, i)}"},""" +
            s""""references":{"reference_data":[{"url":"https://example.com/advisory/$year/$i","name":"adv","refsource":"MISC","tags":[$tags]}$ghRef]},""" +
            s""""description":{"description_data":[{"lang":"en","value":"A vulnerability in product$prd allows remote attackers to execute code via crafted input item $i."}]}},""" +
            f""""publishedDate":"$year-$month%02d-$day%02dT$hour%02d:$minute%02dZ"""" +
            s"""$impact,""" +
            s""""configurations":{"nodes":[{"operator":"OR","cpe_match":[{"vulnerable":true,"cpe23Uri":"cpe:2.3:a:vendor$vnd:product$prd:1.0:*:*:*:*:*:*:*"}]$child}]}}""")
          i += 1
        }
        w.write("]}")
      }
    }
    published.result()
  }

  private val tactics = Seq("initial-access", "execution", "persistence",
    "privilege-escalation", "defense-evasion", "credential-access",
    "discovery", "lateral-movement", "collection", "command-and-control",
    "exfiltration", "impact", "reconnaissance", "resource-development")

  private def genMitre(path: String, n: Int): Unit = {
    val sb = new StringBuilder
    sb.append("""{"type":"bundle","id":"bundle--perfbench","spec_version":"2.0","objects":[""")
    tactics.zipWithIndex.foreach { case (t, i) =>
      if (i > 0) sb.append(",")
      sb.append(s"""{"type":"x-mitre-tactic","id":"x-mitre-tactic--$i","x_mitre_shortname":"$t","name":"${t.split('-').map(_.capitalize).mkString(" ")}"}""")
    }
    (0 until n).foreach { i =>
      val ttp = s"T${1000 + i}"
      sb.append(",")
      sb.append(
        s"""{"type":"attack-pattern","id":"attack-pattern--$i","name":"Technique $ttp",""" +
        s""""external_references":[{"source_name":"mitre-attack","external_id":"$ttp","url":"https://attack.mitre.org/techniques/$ttp"}],""" +
        s""""kill_chain_phases":[{"kill_chain_name":"mitre-attack","phase_name":"${tactics(i % tactics.size)}"}],""" +
        s""""description":"# Overview #\\nAdversaries may use <code>tool$i</code> per https://attack.mitre.org/techniques/$ttp/001 patterns.",""" +
        s""""x_mitre_platforms":["Windows","Linux"],"x_mitre_data_sources":["Process monitoring"],""" +
        s""""x_mitre_detection":"Monitor for tool$i execution."}""")
    }
    sb.append("]}")
    writeText(path, sb.toString)
  }

  /** One advisory: alert id, issue date, CVE ids, TTP ids, text. */
  private final case class Advisory(id: String, date: LocalDate, cves: Seq[String],
      ttps: Seq[String], text: String)

  private def advisory(id: String, date: LocalDate, rnd: java.util.Random): Advisory = {
    val cves = (0 until 2 + rnd.nextInt(4)).map { _ =>
      cveId(years(rnd.nextInt(years.size)), rnd.nextInt(NvdPerYear))
    }.distinct
    val ttps = (0 until 1 + rnd.nextInt(4))
      .map(_ => s"T${1000 + rnd.nextInt(Techniques)}").distinct
    val text = s"Advisory $id: threat actors exploit ${cves.mkString(", ")} using " +
      ttps.map(t => s"[$t]").mkString(" and ") +
      s". Entity${rnd.nextInt(200)} Corp and Entity${rnd.nextInt(200)} Systems were observed. " +
      "Additional hardening guidance follows for affected organizations."
    Advisory(id, date, cves, ttps, text)
  }

  private def scrapedId(a: Int): String = f"AA22-$a%03dA"
  /** Feed advisory ids keep CISA's `XX##-###X` shape, which the feed
    * adapter parses the alert id from; unique for file < 2000.
    */
  private def feedId(file: Int, item: Int): String =
    f"F${('A' + file % 26).toChar}${23 + file / 26}%02d-$item%03dA"

  private def rssFeed(advs: Seq[Advisory], file: Int): String = {
    val items = advs.map { a =>
      s"""<item><title>${a.id}: Advisory ${a.id}</title>""" +
      s"""<link>https://www.cisa.gov/news-events/advisories/${a.id.toLowerCase}</link>""" +
      f"""<pubDate>${a.date.getDayOfMonth}%02d Mar 2023 10:00:00 GMT</pubDate>""" +
      s"""<guid>https://www.cisa.gov/news-events/advisories/${a.id.toLowerCase}</guid>""" +
      s"""<description>${a.text}</description></item>"""
    }
    s"""<?xml version="1.0" encoding="UTF-8"?><rss version="2.0"><channel>""" +
      s"""<title>CISA Advisories</title>${items.mkString}</channel></rss>"""
  }

  private def feedAdvisories(file: Int, seed: Long): Seq[Advisory] = {
    val rnd = new java.util.Random(seed * 1000003L + 7919L * (file + 1))
    (0 until FeedItems).map(i =>
      advisory(feedId(file, i), LocalDate.of(2023, 3, 1 + (file * 7 + i) % 28), rnd))
  }

  /** Write the cyber inputs under `dir`:
    * `nvd/`, `enterprise-attack.json`, `alerts_raw/`, `mentions/`,
    * `gh_langs/`, `gh_contribs/`, `feeds/feed-000.xml`, `feeds/feed-001.xml`.
    */
  def cyber(spark: SparkSession, dir: String, seed: Long): CyberFacts = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    val published = genNvd(s"$dir/nvd", rnd)
    genMitre(s"$dir/enterprise-attack.json", Techniques)

    val scraped = (0 until Alerts).map(a =>
      advisory(scrapedId(a), LocalDate.of(2022, 1, a % 28 + 1), rnd))
    scraped.zipWithIndex.map { case (a, i) =>
      (s"/alert/${a.id.toLowerCase}", s"${a.id} :", s"Synthetic Alert $i",
        s"Original release date: January ${a.date.getDayOfMonth}, 2022 | Last revised: February 1, 2022",
        a.text)
    }.toDF("link", "alert_id", "title", "date", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/alerts_raw")

    val feed0 = feedAdvisories(0, seed)
    val feed1 = feedAdvisories(1, seed)
    writeText(s"$dir/feeds/feed-000.xml", rssFeed(feed0, 0))
    writeText(s"$dir/feeds/feed-001.xml", rssFeed(feed1, 1))

    // NER mentions over a variant-rich vocabulary: the scraped alerts get
    // `Mentions`, every feed advisory (both files) three
    val mrnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    val feedIds = (feed0 ++ feed1).map(_.id)
    def mention(alertId: String): (String, String, String) = {
      val ent = mrnd.nextInt(800)
      val tpe = nerTypes(ent % 4)
      val base = if (tpe == "GPE") s"Country$ent" else s"Entity$ent Corp"
      val label = mrnd.nextInt(3) match {
        case 0 => base
        case 1 => s"$base inc"
        case _ => s"${base}s"
      }
      (alertId, label, tpe)
    }
    ((0 until Mentions).map(_ => mention(scrapedId(mrnd.nextInt(Alerts)))) ++
      feedIds.flatMap(id => (0 until 3).map(_ => mention(id))))
      .toDF("alert_id", "label", "type")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/mentions")

    val grnd = new java.util.Random(seed + 11)
    (0 until Repos).map { k =>
      val m = (0 until 3 + grnd.nextInt(3))
        .map(j => languages((k + j) % languages.size) -> (grnd.nextInt(100000) + 1L)).toMap
      (s"https://api.github.com/repos/org$k/repo$k", "success", m)
    }.toDF("url", "status", "languages")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/gh_langs")
    (0 until Repos).map { k =>
      val cs = (0 until 5 + grnd.nextInt(3)).map(j =>
        (s"user${(k * 3 + j * 17) % 10000}", grnd.nextInt(500) + 1L)) :+
        (("dependabot[bot]", 3L))
      (s"https://api.github.com/repos/org$k/repo$k", "success", cs)
    }.toDF("url", "status", "contributors")
      .withColumn("contributors", expr(
        "transform(contributors, c -> struct(c._1 AS login, c._2 AS contributions))"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/gh_contribs")

    val all = scraped ++ feed0 ++ feed1
    val lags = all.flatMap(a => a.cves.map(c => a.date.toEpochDay - published(c).toEpochDay))
    val reached = scraped.flatMap(_.cves)
    CyberFacts(
      cves = years.size.toLong * NvdPerYear,
      techniques = Techniques,
      alerts = all.size,
      alertCves = all.flatMap(a => a.cves.map(a.id -> _)).toSet,
      avgCvesPerAlert = lags.size.toDouble / all.size,
      avgLagDays = lags.sum.toDouble / lags.size,
      q6Start = reached(new java.util.Random(seed + 6).nextInt(reached.size)))
  }

  // retrieval corpus scale
  val Docs = 6000
  val Vectors = 3000
  val Dims = 64
  val Vocab = 3000

  /** Retrieval corpus in the testdata schema: `documents.parquet`
    * (doc_id, text, lang, source, n_chars) and `embeddings.parquet`
    * (vec_id, embedding float[], label). Terms follow a Zipf law so hot
    * posting lists exist; vectors are 10 Gaussian clusters.
    */
  def corpus(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    val cdf = {
      val w = (1 to Vocab).map(r => 1.0 / r)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def term(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      s"w${if (i >= 0) i else math.min(-i - 1, Vocab - 1)}"
    }
    val langs = Seq("en", "de", "fr", "es", "zh")
    (0 until Docs).map { d =>
      val text = Seq.fill(20 + rnd.nextInt(60))(term()).mkString(" ")
      (d.toLong, text, langs(rnd.nextInt(langs.size)), s"src${rnd.nextInt(20)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val centers = Array.fill(10, Dims)(rnd.nextGaussian())
    (0 until Vectors).map { v =>
      val label = rnd.nextInt(10)
      val emb = centers(label).map(c => (c + 0.6 * rnd.nextGaussian()).toFloat).toSeq
      (v.toLong, emb, label)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Order-independent digest of everything under `dir`: raw bytes of
    * plain files, row content of parquet dirs (their file names and
    * metadata vary between writes of the same rows).
    */
  def digest(spark: SparkSession, dir: String): String = {
    val root = Paths.get(dir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val parquetDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(f: File): Unit =
      if (f.isDirectory) {
        if (f.listFiles().exists(_.getName.endsWith(".parquet")) && f.listFiles().exists(_.getName == "_SUCCESS"))
          parquetDirs += f.getPath
        else f.listFiles().sortBy(_.getName).foreach(walk)
      } else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        md.update(root.relativize(f.toPath).toString.getBytes(UTF_8))
        md.update(Files.readAllBytes(f.toPath))
      }
    walk(root.toFile)
    parquetDirs.sorted.foreach { p =>
      md.update(root.relativize(Paths.get(p)).toString.getBytes(UTF_8))
      val df = spark.read.parquet(p)
      val h = df.select(xxhash64(to_json(struct(df.columns.map(col).toIndexedSeq: _*)))
          .cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), sum(col("h"))).head()
      md.update(s"${h.getLong(0)}:${h.get(1)}".getBytes(UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
