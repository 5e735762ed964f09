package perfbench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{CyberGraphQueries, GraphAlgs}
import graft.operators.{EpochIndex, IndexStore, RetrievalOps}
import graft.pipeline.CyberPipeline
import graft.sources.Csv

/** What a run shares with its workload: the session, a working directory
  * inside the checkout, the seed and the output-check tally.
  */
final class Ctx(val spark: SparkSession, val root: String, val seed: Long) {
  var checks = 0L
  var failed = 0L

  def dir(name: String): String = s"$root/$name"

  /** Record one checked output; a mismatch is a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: CHECK FAILED: $what")
    }
  }

  def rm(path: String): Unit = FileUtils.deleteDirectory(new File(path))

  def du(path: String): Long = {
    val f = new File(path)
    if (f.exists()) FileUtils.sizeOfDirectory(f) else 0L
  }
}

/** One benchmark workload. A run calls [[setup]] several times (the last
  * one's state is used), then makes timed passes. Each pass is
  * [[prepare]] (untimed), [[pass]] (timed) and the check it returns
  * (untimed).
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Write the inputs for seed `ctx.seed` into `ctx.dir(s"in$rep")`. */
  def setup(rep: Int): Unit
  def prepare(): Unit = ()
  def pass(tr: Tracer, traced: Boolean): () => Unit
  /** Bytes on disk the workload's state takes after a pass. */
  def diskBytes: Long
  /** Useful-work ratios over the traced passes. */
  def ratios: Map[String, Double] = Map.empty
}

object Workload {
  val names: Seq[String] = Seq("pipeline", "index_lifecycle")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "pipeline" => new PipelineGraph(ctx)
    case "index_lifecycle" => new IndexLifecycle(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}

/** The paper's workload end to end: a pass runs the pipeline cold (fresh
  * work and output dirs) over the NVD feeds, the MITRE bundle, the
  * scraped alerts and two RSS feed files, then loads the export as a
  * graph and runs Q1–Q8, ArticleRank and Louvain over it.
  */
final class PipelineGraph(ctx: Ctx) extends Workload(ctx) {
  private var in = ""
  private var facts: Gen.CyberFacts = _
  private val work = ctx.dir("work")
  private val out = ctx.dir("out")
  private var exportRef: Option[Map[String, String]] = None
  private var answersRef: Option[Map[String, String]] = None
  private var erScored = 0L
  private var erMatched = 0L
  private var lastDisk = 0L

  def setup(rep: Int): Unit = {
    in = ctx.dir(s"in$rep")
    facts = Gen.cyber(spark, in, ctx.seed)
  }

  override def prepare(): Unit = { ctx.rm(work); ctx.rm(out) }

  def pass(tr: Tracer, traced: Boolean): () => Unit = {
    val conf = Pipelines.config(in, work, out)
    val nerModel = Pipelines.ner(spark, in)
    val (counts, run) = tr.timed("pipeline.run")(CyberPipeline.run(spark, conf, nerModel))
    tr.splitByWork(run, Pipelines.stageOf(conf))
    val g = tr.span("graph.load")(GraphTables.build(spark, out, facts.q6Start))
    // a query span ends when the client holds the answer; hashing it for
    // the checks is left to the untimed check
    def q(name: String)(df: => DataFrame): (String, Seq[Row]) =
      name -> tr.span(s"graph.queries.$name")(df.collect().toSeq)
    val q2 = tr.span("graph.queries.q2")(
      CyberGraphQueries.q2AvgCvesPerAlert(g.alertCve).head().getDouble(0))
    val q3 = tr.span("graph.queries.q3")(
      CyberGraphQueries.q3PublishAlertLag(g.alertCve, g.alerts, g.cves).head().getDouble(0))
    val rank = tr.span("graph.algs.articlerank")(
      GraphAlgs.articleRankDF(g.edges).localCheckpoint(true))
    val communities = tr.span("graph.algs.louvain")(
      GraphAlgs.louvainDF(g.edges).localCheckpoint(true))
    val answers = Map(
      q("q1")(CyberGraphQueries.q1TagFrequency(g.cveTags)),
      q("q4")(CyberGraphQueries.q4SevereGeoActors(g.mentioned, g.alertCve, g.openTo, g.cves)),
      q("q5")(CyberGraphQueries.q5VectorsByActor(g.mentioned, g.alertCve, g.openTo, g.cves)),
      q("q6")(CyberGraphQueries.q6TwoHopNeighbourhood(g.edges, g.q6Start.toString)),
      q("q7")(CyberGraphQueries.q7CommunitySizes(communities)),
      q("q8")(CyberGraphQueries.q8LanguagePopularity(g.writtenIn)))
    () => {
      Map("alert_nodes" -> facts.alerts, "alert_cve_edge" -> facts.alertCves.size.toLong,
        "cve_node_data" -> facts.cves, "enterprise_attack" -> facts.techniques)
        .foreach { case (t, n) =>
          ctx.check(counts.get(t).contains(n), s"$t exported ${counts.get(t)} rows, expected $n")
        }
      val export = Pipelines.exportHashes(out)
      ctx.check(export.size == 11, s"export has ${export.size} tables, expected 11")
      // only a run of two or more passes (a traced run) compares passes
      exportRef match {
        case None => exportRef = Some(export)
        case Some(ref) => ctx.check(export == ref, "export differs between passes in " +
          ref.keys.filter(t => export.get(t) != ref.get(t)).mkString(","))
      }
      val edges = Csv.read(spark, s"$out/alert_cve_edge").collect()
        .map(r => (r.getAs[String]("alert_id"), r.getAs[String]("cve_id"))).toSet
      ctx.check(edges == facts.alertCves, "alert_cve_edge differs from the generated alert CVEs")
      ctx.check(math.abs(q2 - facts.avgCvesPerAlert) < 1e-9,
        s"Q2 = $q2, generator implies ${facts.avgCvesPerAlert}")
      ctx.check(math.abs(q3 - facts.avgLagDays) < 1e-6,
        s"Q3 = $q3, generator implies ${facts.avgLagDays}")
      ctx.check(answers("q4").nonEmpty, "Q4 returned no rows")
      val hashes = answers.map { case (k, rows) => k -> GraphTables.rowsHash(rows) } ++ Map(
        "articlerank" -> GraphTables.rowsHash(rank.collect().toSeq),
        "q2" -> q2.toString, "q3" -> q3.toString)
      answersRef match {
        case None => answersRef = Some(hashes)
        case Some(ref) => ctx.check(hashes == ref, "graph answers differ between passes: " +
          ref.keys.filter(k => hashes.get(k) != ref.get(k)).mkString(","))
      }
      lastDisk = ctx.du(work) + ctx.du(out)
      if (traced) {
        val (s, m) = Pipelines.erPairs(spark, work)
        erScored += s
        erMatched += m
      }
    }
  }

  def diskBytes: Long = lastDisk

  override def ratios: Map[String, Double] = Map(
    "er.resolve.match_ratio" -> (if (erScored == 0) 0.0 else erMatched.toDouble / erScored))
}

/** Index build, append, delete, compact and query calls interleaved on
  * the operators layer (BM25, IVF-PQ and the per-epoch index).
  */
final class IndexLifecycle(ctx: Ctx) extends Workload(ctx) {
  import IndexLifecycle._
  private var dir = ""
  private val idx = ctx.dir("index")
  private var bm25Oracle: Option[Set[String]] = None
  private var recalls = Vector.empty[Double]
  private var visited = Vector.empty[Double]

  def setup(rep: Int): Unit = {
    dir = ctx.dir(s"in$rep")
    Gen.corpus(spark, dir, ctx.seed)
  }

  private def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  private def vecs(lo: Long, hi: Long): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("emb"))
      .withColumn("norm", sqrt(aggregate(col("emb"), lit(0.0), (a, x) => a + x * x)))

  override def prepare(): Unit = ctx.rm(idx)

  def pass(tr: Tracer, traced: Boolean): () => Unit = {
    val bm = s"$idx/bm25"
    val ivf = s"$idx/ivfpq"
    val ep = s"$idx/epochs"
    def rows(df: DataFrame): Set[String] = df.collect().map(_.mkString("|")).toSet
    val bm25Out = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    val ivfOut = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    def bm25Query(): Unit = bm25Out += tr.span("operators.index_store.bm25_query")(
      rows(IndexStore.bm25TopKHotTermsFromIndex(spark, bm)))
    def ivfQuery(): Unit = ivfOut += tr.span("operators.index_store.ivfpq_query")(
      rows(IndexStore.ivfPqRefinedFromIndex(spark, dir, ivf)))
    tr.span("operators.index_store.bm25_build")(
      IndexStore.buildBm25(docs.filter(col("doc_id") < DocsBase), bm))
    tr.span("operators.index_store.ivfpq_build")(IndexStore.buildIvfPq(vecs(0, IvfBase), ivf))
    tr.span("operators.epoch_index.ingest")(EpochIndex.ingest(vecs(EpochA, EpochB), ep, "a"))
    tr.span("operators.epoch_index.ingest")(EpochIndex.ingest(vecs(EpochB, Vectors), ep, "b"))
    tr.span("operators.index_store.bm25_append")(
      IndexStore.appendBm25(docs.filter(col("doc_id") >= DocsBase), bm))
    tr.span("operators.index_store.ivfpq_append")(IndexStore.appendIvfPq(vecs(IvfBase, EpochA), ivf))
    tr.span("operators.index_store.bm25_delete")(
      IndexStore.deleteBm25(docs.filter(deletedDoc(col("doc_id"))).select(col("doc_id")), bm))
    tr.span("operators.index_store.ivfpq_delete")(
      IndexStore.deleteIvfPq(vecs(0, EpochA).filter(deletedVec(col("vec_id"))).select(col("vec_id")), ivf))
    bm25Query()
    ivfQuery()
    // exact mode: every cell probed, refine window over the whole epoch
    val exact = tr.span("operators.epoch_index.search")(
      EpochIndex.searchTopK(spark, dir, ep, nProbes = 16, topK = 10, refineFactor = 1000000)
        .select(col("q_id"), col("vec_id"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq)
    tr.span("operators.index_store.bm25_compact")(IndexStore.compactBm25(spark, bm))
    tr.span("operators.index_store.ivfpq_compact")(IndexStore.compactIvfPq(spark, ivf))
    bm25Query()
    ivfQuery()
    val (pruned, seen) = tr.span("operators.epoch_index.search_pruned") {
      val (df, v) = EpochIndex.searchTopKPruned(spark, dir, ep)
      (rows(df), v)
    }
    () => {
      // every query runs on the live set: base + appended - deleted
      val want = bm25Oracle.getOrElse {
        val w = rows(RetrievalOps.bm25TopKHotTerms(docs.filter(!deletedDoc(col("doc_id")))))
        bm25Oracle = Some(w)
        w
      }
      bm25Out.foreach(got =>
        ctx.check(got == want, "BM25 from the index differs from a rebuild over the live docs"))
      val truth = bruteForce(5, EpochA, live = true)
      ivfOut.foreach { got =>
        val r = recall(got, truth)
        recalls :+= r
        ctx.check(r >= RecallFloor, f"IVF-PQ recall@10 $r%.3f below $RecallFloor")
      }
      ivfOut.tail.foreach(got => ctx.check(got == ivfOut.head, "IVF-PQ answer changed on compaction"))
      val epochTruth = bruteForce(EpochA, Vectors, live = false)
      ctx.check(exact == epochTruth.toSeq.flatMap { case (q, ids) =>
        ids.zipWithIndex.map { case (id, i) => (q, id, i + 1L) }
      }.sorted, "exact-mode epoch search differs from brute-force top-k")
      ctx.check(recall(pruned, epochTruth) >= RecallFloor, "pruned epoch search recall below floor")
      visited :+= seen.size / 2.0
    }
  }

  private val truthCache = scala.collection.mutable.Map.empty[(Long, Long, Boolean), Map[Long, Seq[Long]]]

  /** Exact cosine top-10 of the query vectors (vec_id < 5) over the
    * corpus ids in [lo, hi), computed in-process, outside Spark.
    */
  private def bruteForce(lo: Long, hi: Long, live: Boolean): Map[Long, Seq[Long]] =
    truthCache.getOrElseUpdate((lo, hi, live), {
      val all = spark.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val corpus = all.filter { case (id, _) =>
        id >= math.max(lo, 5L) && id < hi && !(live && deletedVecId(id))
      }.toSeq
      (0L until 5L).map { q =>
        q -> corpus.map { case (id, e) => (id, cos(all(q), e)) }
          .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
      }.toMap
    })

  private def recall(got: Set[String], truth: Map[Long, Seq[Long]]): Double = {
    val pairs = got.map(_.split('|')).map(a => (a(0).toLong, a(1).toLong))
    truth.map { case (q, ids) => ids.count(id => pairs.contains((q, id))) }.sum.toDouble /
      truth.values.map(_.size).sum
  }

  def diskBytes: Long = ctx.du(idx)

  override def ratios: Map[String, Double] = Map(
    "operators.epoch_index.visited_ratio" -> (if (visited.isEmpty) 0.0 else Stats.median(visited)),
    "operators.index_store.ivfpq_query.recall_at_10" -> (if (recalls.isEmpty) 0.0 else Stats.median(recalls)))
}

object IndexLifecycle {
  val DocsBase = 5000L
  val IvfBase = 2000L
  val EpochA = 2300L
  val EpochB = 2650L
  val Vectors: Long = Gen.Vectors.toLong
  val RecallFloor = 0.6
  def deletedDoc(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = pmod(id, lit(7)) === 3
  def deletedVec(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(id, lit(10)) === 7 && id >= 16
  def deletedVecId(id: Long): Boolean = id % 10 == 7 && id >= 16
}
