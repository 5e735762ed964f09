package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Csv

/** The query-side graph loaded from a pipeline export: the per-query
  * input tables and a long-id all-edges table. CVE-side edges keep only
  * the CVEs reached from alerts or GitHub (the reference's c25 semi-join,
  * i.e. the graph it loaded into Neo4j). Every table is materialized in
  * memory, so the queries time query work, not the load.
  */
final case class GraphTables(cveTags: DataFrame, alertCve: DataFrame,
    alerts: DataFrame, cves: DataFrame, mentioned: DataFrame,
    openTo: DataFrame, writtenIn: DataFrame, edges: DataFrame, q6Start: Long)

object GraphTables {

  /** Materialized in memory with its lineage cut, as a loaded table. */
  private def cached(df: DataFrame): DataFrame = df.localCheckpoint(true)

  def build(spark: SparkSession, export: String, q6Cve: String): GraphTables = {
    def t(name: String): DataFrame = Csv.read(spark, s"$export/$name")
    val alertCve = t("alert_cve_edge").select(col("alert_id"), col("cve_id"))
    val langs = t("github_langs_merged").select(col("cve_id"), col("language"))
    val users = t("github_usernames_merged").select(col("cve_id"), col("login"))
    val kept = alertCve.select(col("cve_id"))
      .union(langs.select(col("cve_id"))).union(users.select(col("cve_id"))).distinct()
    def keep(df: DataFrame): DataFrame = df.join(kept, Seq("cve_id"), "left_semi")
    val cves = keep(t("cve_node_data")).select(col("cve_id"),
      col("score").cast("double").as("score"), col("attack_vector"),
      col("published").cast("timestamp").as("published"))
    val cveTags = keep(t("cve_references")).filter(col("tag").isNotNull)
      .select(col("cve_id"), col("tag")).distinct()
    val openTo = cves.filter(col("attack_vector").isNotNull)
      .select(col("cve_id"), col("attack_vector"))
    val mentioned = t("alert_ner_label_weights").select(col("alert_id"),
      col("best_label").as("actor_label"), col("type").as("actor_type"))
    val alerts = t("alert_nodes").select(col("alert_id"),
      col("date").cast("timestamp").as("date"))
    val writtenIn = langs.select(col("language"), col("cve_id"))

    // typed vertex keys, then dense long ids in key order
    def e(df: DataFrame, a: String, ta: String, b: String, tb: String): DataFrame =
      df.select(concat(lit(s"$ta:"), col(a)).as("s"), concat(lit(s"$tb:"), col(b)).as("d"))
    val named = Seq(
      e(alertCve, "alert_id", "alert", "cve_id", "cve"),
      e(t("alert_ttp_data"), "alert_id", "alert", "ttp_id", "ttp"),
      e(mentioned, "alert_id", "alert", "actor_label", "actor"),
      e(cveTags, "cve_id", "cve", "tag", "tag"),
      e(openTo, "cve_id", "cve", "attack_vector", "vector"),
      e(keep(t("cpe_node_data")), "cve_id", "cve", "cpe", "config"),
      e(keep(users), "cve_id", "cve", "login", "user"),
      e(keep(langs), "cve_id", "cve", "language", "language"))
      .reduce(_.union(_)).distinct()
    val v = cached(named.select(col("s").as("k")).union(named.select(col("d").as("k")))
      .distinct()
      .withColumn("id", row_number().over(Window.orderBy(col("k"))).cast("long")))
    val q6 = v.filter(col("k") === s"cve:$q6Cve").select(col("id")).head().getLong(0)
    val edges = cached(named.join(v.select(col("k").as("s"), col("id").as("src")), Seq("s"))
      .join(v.select(col("k").as("d"), col("id").as("dst")), Seq("d"))
      .select(col("src"), col("dst")))
    GraphTables(cached(cveTags), cached(alertCve), cached(alerts), cached(cves),
      cached(mentioned), cached(openTo), cached(writtenIn), edges, q6)
  }

  /** Row count and order-independent hash of a query result. */
  def rowsHash(result: Seq[Row]): String = {
    val rows = result.map(_.mkString("\u0001")).sorted
    s"${rows.length}:${scala.util.hashing.MurmurHash3.orderedHash(rows)}"
  }
}
