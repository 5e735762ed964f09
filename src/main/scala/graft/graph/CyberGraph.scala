package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's property-graph query surface (SURVEY §2.10, Q1–Q8 from
  * Writeup.pdf §Exploring the Graph / §Queries), re-expressed as pure
  * DataFrame programs over node/edge tables.
  *
  * Graph model (CVE Meta Diagram.pdf): nodes CVEs/Tags/Configs/Alerts/
  * Actors/TTPs/AttackVectors/GitHubUser/Language; edges REFERENCED/
  * LINKED_TO/AFFECTS/MENTIONED/WARNS_OF/OPEN_TO/WRITTEN_BY/WRITTEN_IN.
  * Each edge table is a DataFrame with (src, dst) string-id columns plus
  * properties; node tables carry (id, props...).
  *
  * Every query is a join-chain + aggregation — Catalyst broadcasts the
  * small sides and pushes filters below the joins, so the same code is the
  * right plan at cluster scale. The iterative GDS calls (articleRank,
  * louvain→LPA) live in [[GraphAlgs]].
  */
object CyberGraphQueries {

  /** Q1: tag frequency — MATCH (c:CVEs)--(t:Tags) count per tag. */
  def q1TagFrequency(cveTagEdges: DataFrame): DataFrame =
    cveTagEdges.groupBy(col("tag"))
      .agg(count(lit(1)).as("cves"))
      .orderBy(col("cves").desc, col("tag"))

  /** Q2: average CVEs referenced per alert. */
  def q2AvgCvesPerAlert(alertCveEdges: DataFrame): DataFrame =
    alertCveEdges.groupBy(col("alert_id")).agg(count(lit(1)).as("n"))
      .agg(avg(col("n")).as("avg_cves_per_alert"))

  /** Q3: mean lag between CVE publication and alert issuance
    * (avg(duration.between(a.date, c.published)) ≈ 1 yr 4 mo in the
    * reference — BASELINE.md sanity value).
    */
  def q3PublishAlertLag(alertCveEdges: DataFrame, alerts: DataFrame,
                        cves: DataFrame): DataFrame =
    alertCveEdges
      .join(alerts.select(col("alert_id"), col("date")), Seq("alert_id"))
      .join(cves.select(col("cve_id"), col("published")), Seq("cve_id"))
      .agg(avg(datediff(col("date"), col("published"))).as("avg_lag_days"))

  /** Q4: geo-political actors mentioned alongside max-severity CVEs —
    * the 4-hop Cypher path (Actors)<-[MENTIONED]-(Alerts)-[REFERENCED]->
    * (CVEs)-[OPEN_TO]-(AttackVectors) with label excludes + score filter.
    */
  def q4SevereGeoActors(mentioned: DataFrame, referenced: DataFrame,
                        openTo: DataFrame, cves: DataFrame,
                        excludeLabels: Seq[String] = Seq()): DataFrame = {
    val excluded: Column = excludeLabels
      .map(l => !col("actor_label").contains(l))
      .foldLeft(lit(true))(_ && _)
    mentioned.filter(col("actor_type") === "GPE").filter(excluded)
      .join(referenced, Seq("alert_id"))
      .join(cves.filter(col("score") >= 10).select(col("cve_id")), Seq("cve_id"))
      .join(openTo, Seq("cve_id"))
      .select(col("actor_label"), col("attack_vector"))
      .distinct()
      .orderBy(col("actor_label"), col("attack_vector"))
  }

  /** Q5: attack-vector histogram over the same 4-hop pattern. */
  def q5VectorsByActor(mentioned: DataFrame, referenced: DataFrame,
                       openTo: DataFrame, cves: DataFrame): DataFrame =
    mentioned.filter(col("actor_type") === "GPE")
      .join(referenced, Seq("alert_id"))
      .join(cves.select(col("cve_id")), Seq("cve_id"))
      .join(openTo, Seq("cve_id"))
      .groupBy(col("attack_vector"))
      .agg(countDistinct(col("cve_id")).as("nums"))
      .orderBy(col("nums").desc, col("attack_vector"))

  /** Q6 (relational part): 2-hop neighbourhood of a vertex over the union
    * of all edge tables; the centrality itself is [[GraphAlgs.articleRankDF]].
    */
  def q6TwoHopNeighbourhood(allEdges: DataFrame, start: String): DataFrame = {
    val undirected = allEdges.select(col("src"), col("dst"))
      .union(allEdges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val hop1 = undirected.filter(col("src") === start)
      .select(col("dst").as("node"))
    val hop2 = undirected.join(hop1, undirected("src") === hop1("node"))
      .select(col("dst").as("node"))
    hop1.union(hop2).filter(col("node") =!= start).distinct().orderBy(col("node"))
  }

  /** Q7 (relational part): community histogram — the community column
    * comes from GraphAlgs.louvainDF (real modularity Louvain).
    */
  def q7CommunitySizes(communities: DataFrame): DataFrame =
    communities.groupBy(col("community"))
      .agg(count(lit(1)).as("members"))
      .orderBy(col("members").desc, col("community"))

  /** Q8: language popularity across CVE-linked repos — join chain
    * (Language)-[WRITTEN_IN]-(CVEs)-[REFERENCED]-(Alerts) with excludes.
    */
  def q8LanguagePopularity(writtenIn: DataFrame,
                           exclude: Seq[String] = Seq()): DataFrame = {
    val keep = exclude.map(l => col("language") =!= l)
      .foldLeft(lit(true))(_ && _)
    writtenIn.filter(keep)
      .groupBy(col("language"))
      .agg(countDistinct(col("cve_id")).as("cves"))
      .orderBy(col("cves").desc, col("language"))
  }
}
