package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Sparse (lexical) retrieval — the BM25 counterpart to [[AnnOps]]'s
  * dense family. A RAG/data-curation stack needs both: dense ANN for
  * semantic recall, BM25 for exact-term precision and as the first-stage
  * candidate generator hybrid retrievers re-rank.
  *
  * Scale shape: the corpus side collapses to per-(doc, term) counts —
  * ONE map-side-combinable aggregation over the token stream, the same
  * inverted-index relation every search engine builds. Document-frequency
  * and length tables are aggregates over it; the probe is an equi-join
  * on the term (posting-list traversal), so a query only ever touches
  * the docs that contain it. Per-query top-k is a rank window
  * PARTITIONED BY query — bounded by the posting-list size, the q07
  * per-group-argmax shape, never corpus-global. Scoring is pure column
  * math (ln/mul/div of exact counts — no float sums), ROUND 6 under the
  * t18/g04 cross-engine convention.
  */
object RetrievalOps {

  /** BM25 (Okapi, k1 = 1.2, b = 0.75) top-`k` docs per query term.
    *
    * `queries` is a one-column (`q`) frame of probe terms; scores follow
    * the standard formula with idf = ln(1 + (N − df + 0.5)/(df + 0.5)),
    * tf saturation k1, length normalization b against the corpus mean
    * document length.
    */
  def bm25TopK(docsDf: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // distinct: a duplicated caller query term would otherwise rank every
    // matching doc once per duplicate inside the same top-k
    val probe = queries.select(col("q").as("w")).distinct()
    withIndex(docsDf) { ix =>
      rankTopK(scoreProbes(ix, probe, k1, b), k)
    }
  }

  /** BM25 with the probe set derived from the index itself: the corpus's
    * `nProbes` most document-frequent terms (ties by term asc) — the hot
    * posting lists, where length normalization and tf saturation
    * actually discriminate. The index is built ONCE and shared by the
    * probe derivation and the scoring join (no second corpus pass).
    */
  def bm25TopKHotTerms(docsDf: DataFrame, nProbes: Int = 3,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    withIndex(docsDf)(hotTermsTopK(_, nProbes, k, k1, b))

  /** Hot-terms search core over ANY index source (the freshly-built
    * in-memory tables or the [[IndexStore]]-persisted parquet ones — the
    * parity the a10 gate pins): probe derivation + scoring + top-k from
    * the SAME definitions as the gate path.
    */
  private[operators] def hotTermsTopK(ix: Bm25Index, nProbes: Int = 3,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val probe = ix.dfreq.orderBy(col("df").desc, col("w")).limit(nProbes)
      .select(col("w"))
    rankTopK(scoreProbes(ix, probe, k1, b), k)
  }

  /** The corpus inverted index and its model tables — ONE shared build
    * for every BM25 entry point. `tf` is cached; [[withIndex]] releases
    * it after the caller's (eagerly materialized) result.
    */
  private[operators] final case class Bm25Index(tf: DataFrame, dl: DataFrame,
      dfreq: DataFrame, nDocs: Long, avgdl: Double, sumTf: Long)

  /** The index-table build from a documents frame — the ONE tokenization
    * + (doc, term) aggregation every BM25 consumer derives from; exposed
    * so [[IndexStore]] persists exactly what the in-memory path scores.
    * `tf` comes back CACHED (caller releases).
    */
  private[operators] def buildIndexTables(docsDf: DataFrame): Bm25Index = {
    val tf = docsDf.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        explode(split(trim(col("text")), graft.Tok.Ws)).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .cache() // inverted index: feeds df/dl aggregates + the probe join
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scal =
      try tf.agg(sum(col("tf")), countDistinct(col("doc_id"))).head
      catch { case t: Throwable => tf.unpersist(blocking = false); throw t }
    val nDocs = scal.getLong(1)
    // empty/all-blank corpus: SUM is null and nDocs 0 — every downstream
    // frame is empty anyway, so any finite avgdl yields the correct
    // empty result instead of an NPE / division by zero
    val sumTf = if (nDocs == 0) 0L else scal.getLong(0)
    Bm25Index(tf, dl, dfreq, nDocs, avgdlOf(nDocs, sumTf), sumTf)
  }

  /** The corpus mean document length; 1.0 for an empty corpus, where any
    * finite value scores the (empty) result correctly.
    */
  private[operators] def avgdlOf(nDocs: Long, sumTf: Long): Double =
    if (nDocs == 0) 1.0 else sumTf.toDouble / nDocs

  private def withIndex(docsDf: DataFrame)(f: Bm25Index => DataFrame): DataFrame = {
    val ix = buildIndexTables(docsDf)
    val out = f(ix)
    ix.tf.unpersist(blocking = false)
    out
  }

  /** The per-(posting, probe-term) BM25 contribution — THE scoring
    * formula, written once: idf(df) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)).
    */
  private[operators] def termScore(nDocs: Long, avgdl: Double, k1: Double,
      b: Double): Column = {
    val idf = log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + lit(0.5))
      / (col("df") + lit(0.5)))
    idf * col("tf").cast("double") * lit(k1 + 1.0) /
      (col("tf").cast("double")
        + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl)))
  }

  /** Byte threshold above which the doclen side of the scoring join is
    * Bloom-pruned (r18, guide §3.2). The `spark.graft.bm25.dlBloomBytes`
    * system property lets focused tests force the path; the default is
    * 256 MB: far above any gate SF (sf0.1's whole doclen table is < 1 MB,
    * so the driver bench's plans are byte-identical to r17's), and about
    * the point where the dl side stops broadcasting and would otherwise
    * be shuffled corpus-wide by a sort-merge join.
    */
  private[operators] def dlBloomBytes: Long =
    sys.props.get("spark.graft.bm25.dlBloomBytes")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(256L << 20)

  /** Prune the corpus-sized doclen table to doc_ids that can survive the
    * postings⋈probe join, BEFORE the dl equi-join (r17 VERDICT Next #1 /
    * guide §3.2): at 100 TB the filtered postings join the FULL doclen
    * table — the last corpus-sized join on the hot query path — and
    * Spark's automatic runtime Bloom does not fire here (the creation
    * side is a join output, not a selectively-filtered scan; verified in
    * plans/r18/bm25__hot_score_bloomcheck.txt). A Bloom over the
    * surviving doc_ids drops definitely-non-matching dl rows at the scan,
    * so the dl shuffle is bounded by the posting lists, not the corpus.
    * False positives only cost extra shuffle; no false negatives exist,
    * so the inner join's rows — and every score — are identical (pinned
    * by RetrievalOpsSpec's forced-path parity test and the a08/a10/a12/
    * a13 oracle gates).
    *
    * Costs, and why it is size-gated: the surviving-postings subtree runs
    * twice (once to build the filter, once to score) and the filter must
    * fit in driver+executor memory — `expectedNumItems` is capped at 100M
    * (≈115 MB at fpp 0.03); past the cap the filter saturates toward
    * pass-through, which only loses pruning, never rows. Below
    * [[dlBloomBytes]] the dl side broadcasts anyway and the extra pass
    * would be pure overhead — the sf0.1 gates take that branch.
    */
  private def pruneDl(dl: DataFrame, hits: DataFrame, nDocs: Long): DataFrame = {
    // size estimate from the index's OWN scalar, not the optimizer: dl is
    // exactly nDocs fixed-width (doc_id, dl) rows, and asking Catalyst
    // for plan stats here would bill every query an extra analyze+
    // optimize pass over the dl subtree just to decide a threshold
    val est = nDocs * 16L
    if (est < dlBloomBytes) dl
    else {
      val expected = math.min(math.max(nDocs, 1L), 100000000L)
      val bf = hits.select(col("doc_id")).stat.bloomFilter("doc_id", expected, 0.03)
      val bfB = dl.sparkSession.sparkContext.broadcast(bf)
      val mightContain = udf((id: Long) => bfB.value.mightContainLong(id))
      dl.filter(mightContain(col("doc_id")))
    }
  }

  /** Score a broadcast term-probe frame against the index: one posting
    * equi-join, per-row ROUND-6 term score.
    *
    * r17 (guide §3.1 — pick the join strategy deliberately): df is
    * resolved INTO the probe first (a probe-sized join), so the postings
    * scan joins one broadcast (w, df) relation. The old order joined the
    * filtered postings against the FULL dfreq table — auto-broadcast at
    * gate scale, but a vocabulary-sized shuffle risk at 100 TB where
    * dfreq outgrows the broadcast threshold. Same inner-join rows either
    * way; values identical. r18: the doclen side is Bloom-pruned past
    * [[dlBloomBytes]] ([[pruneDl]]).
    */
  private[operators] def scoreProbes(ix: Bm25Index, probe: DataFrame, k1: Double,
      b: Double): DataFrame = {
    val hits = ix.tf
      .join(broadcast(ix.dfreq.join(broadcast(probe), Seq("w"))), Seq("w"))
    hits
      .join(pruneDl(ix.dl, hits, ix.nDocs), Seq("doc_id"))
      .select(col("w").as("q"), col("doc_id"), col("tf"),
        round(termScore(ix.nDocs, ix.avgdl, k1, b), 6).as("score"))
  }

  private[operators] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("q"), col("rk").cast("bigint").as("rk"), col("doc_id"),
        col("tf").cast("bigint").as("tf"), col("score"))
      .orderBy(col("q"), col("rk"))
      .localCheckpoint(true)

  /** a08's oracle, parameterized by an extra corpus predicate so the
    * delete gate (a13: rebuild-without-docs ≡ delete) replays the SAME
    * scoring SQL over the surviving slice; `extraWhere` must end in
    * `AND ` or be empty.
    */
  private[operators] def hotTermsOracleSql(extraWhere: String = ""): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
              FROM documents WHERE ${extraWhere}length(trim(text)) > 0),
      tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
      dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
      scal AS (SELECT CAST(SUM(tf) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avgdl,
                      CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
      probes AS (SELECT w AS q FROM dfreq
                 ORDER BY df DESC, w LIMIT 3),
      scored AS (SELECT t.w AS q, t.doc_id, t.tf,
               ROUND(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
                 * CAST(t.tf AS DOUBLE) * (1.2 + 1.0)
                 / (CAST(t.tf AS DOUBLE)
                    + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl)), 6)
                 AS score
             FROM tf t JOIN probes p ON t.w = p.q
                  JOIN dfreq f ON f.w = t.w
                  JOIN dl l ON l.doc_id = t.doc_id
                  CROSS JOIN scal s),
      ranked AS (SELECT q, doc_id, tf, score,
               row_number() OVER (PARTITION BY q ORDER BY score DESC, doc_id) AS rk
             FROM scored)
      SELECT q, CAST(rk AS BIGINT) AS rk, doc_id, CAST(tf AS BIGINT) AS tf, score
      FROM ranked WHERE rk <= 10 ORDER BY q, rk"""

  val a08 = QueryDef(
    "a08_bm25_topk",
    "BM25 top-10 per query over the corpus inverted index (k1=1.2, b=0.75)",
    (s, dir) => bm25TopKHotTerms(Tables.load(s, dir, "documents")),
    Some(hotTermsOracleSql()))

  /** Doc-as-query BM25: each query DOCUMENT's distinct term set probes
    * the corpus index; per-(query, candidate) scores are the sum of the
    * per-term BM25 contributions (ROUND 6 — summation across a query's
    * matched terms is the t19 float-convention case). Query docs are
    * `doc_id < nQuery`, candidates the rest — the a01 id convention, so
    * the two retrieval modalities share a query key space.
    */
  private[graft] def bm25DocQuery(docsDf: DataFrame, nQuery: Int = 5,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    withIndex(docsDf)(docQueryTopK(_, nQuery, k, k1, b))

  /** Doc-as-query search core over ANY index source (fresh tables or the
    * [[IndexStore]] parquet ones — a09 consumes the persisted form).
    */
  private[operators] def docQueryTopK(ix: Bm25Index, nQuery: Int = 5,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = ix.tf.filter(col("doc_id") < nQuery)
      .select(col("doc_id").as("q_id"), col("w"))
    // r17: df resolved into the (broadcast-sized) query-term frame first
    // — the scoreProbes join-order note applies verbatim. r18: doclen
    // Bloom-pruned past the size gate, and the dfreq resolution carries
    // the explicit broadcast hint its scoreProbes twin already had
    // (qterms is |Q| docs' distinct terms — probe-sized by construction).
    val hits = ix.tf.filter(col("doc_id") >= nQuery)
      .join(broadcast(broadcast(qterms).join(ix.dfreq, Seq("w"))), Seq("w"))
    hits
      .join(pruneDl(ix.dl, hits, ix.nDocs), Seq("doc_id"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(round(sum(termScore(ix.nDocs, ix.avgdl, k1, b)), 6).as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("doc_id"), col("rk").cast("bigint").as("rk"),
        col("score"))
      .localCheckpoint(true)
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009):
    * fuse the dense cosine top-k (a01's exact ranking over the embedding
    * column) with the sparse doc-query BM25 top-k on the SHARED id space
    * — rrf(q,d) = Σ_modality 1/(c + rank), a doc absent from one list
    * contributes only the other's term. The standard first stage of a
    * production RAG retriever; both inputs are partition-bounded top-k
    * lists, so the fusion join is depth·|Q| rows a side — broadcast
    * territory at any corpus size.
    *
    * `k` caps the FUSED output per query; `depth` is the per-modality
    * list depth fed into the fusion and is propagated to BOTH inputs —
    * without that, a k above the inputs' depth would silently rank the
    * fused tail from truncated lists (docs at dense/sparse rank >depth
    * contributing nothing). The usual setting is k ≤ depth.
    */
  def rrfHybrid(s: SparkSession, dir: String, k: Int = 10,
      c: Int = 60, depth: Int = 10): DataFrame = {
    require(k <= depth,
      s"fused k=$k exceeds per-modality depth=$depth: the tail would fuse truncated lists")
    val dense = AnnOps.denseTopK(s, dir, depth)
      .select(col("q_id"), col("vec_id").as("doc_id"), col("rank").as("rd"))
    // the sparse ranking comes FROM THE PERSISTED INDEX (r10 VERDICT item
    // 1: build-once/query-many): ensureBm25 builds the parquet postings/
    // model tables on first use (fingerprint-guarded skip-if-exists
    // thereafter) and docQueryTopK scores from them — value-identical to
    // the in-memory build (same integer tables), pinned in IndexStoreSpec
    val sparse = RetrievalOps.docQueryTopK(
        IndexStore.loadBm25(s, IndexStore.ensureBm25(s, dir)), nQuery = 5,
        k = depth)
      .select(col("q_id"), col("doc_id"), col("rk").as("rs"))
    dense.join(sparse, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        round(coalesce(lit(1.0) / (lit(c.toDouble) + col("rd")), lit(0.0))
          + coalesce(lit(1.0) / (lit(c.toDouble) + col("rs")), lit(0.0)), 6)
          .as("rrf"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("doc_id")))
        .cast("bigint"))
      .filter(col("rank") <= k)
      .orderBy(col("q_id"), col("rank"))
  }

  val a09 = QueryDef(
    "a09_rrf_hybrid",
    "hybrid retrieval: RRF fusion of dense cosine top-k and doc-query BM25",
    (s, dir) => rrfHybrid(s, dir),
    Some("""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings),
      n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM e),
      q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM n WHERE vec_id < 5),
      sc AS (SELECT q_id, vec_id,
               list_dot_product(emb, q_emb) / (norm * q_norm) AS sim
             FROM n CROSS JOIN q WHERE vec_id >= 5),
      dense AS (SELECT q_id, vec_id AS doc_id, rank AS rd FROM (
        SELECT q_id, vec_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        FROM sc) t WHERE rank <= 10),
      toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
              FROM documents WHERE length(trim(text)) > 0),
      tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
      dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
      scal AS (SELECT CAST(SUM(tf) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avgdl,
                      CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM tf),
      qt AS (SELECT doc_id AS q_id, w FROM tf WHERE doc_id < 5),
      bs AS (SELECT p.q_id, t.doc_id,
               ROUND(SUM(ln(1.0 + (s.nd - f.df + 0.5) / (f.df + 0.5))
                 * CAST(t.tf AS DOUBLE) * (1.2 + 1.0)
                 / (CAST(t.tf AS DOUBLE)
                    + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))), 6)
                 AS score
             FROM tf t JOIN qt p ON t.w = p.w
                  JOIN dfreq f ON f.w = t.w
                  JOIN dl l ON l.doc_id = t.doc_id
                  CROSS JOIN scal s
             WHERE t.doc_id >= 5
             GROUP BY p.q_id, t.doc_id),
      sparse AS (SELECT q_id, doc_id, rk AS rs FROM (
        SELECT q_id, doc_id, score,
               row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rk
        FROM bs) t WHERE rk <= 10),
      fused AS (SELECT COALESCE(d.q_id, sp.q_id) AS q_id,
               COALESCE(d.doc_id, sp.doc_id) AS doc_id,
               ROUND(COALESCE(1.0 / (60.0 + d.rd), 0.0)
                 + COALESCE(1.0 / (60.0 + sp.rs), 0.0), 6) AS rrf
             FROM dense d FULL OUTER JOIN sparse sp
               ON d.q_id = sp.q_id AND d.doc_id = sp.doc_id)
      SELECT q_id, doc_id, rrf, CAST(rank AS BIGINT) AS rank FROM (
        SELECT q_id, doc_id, rrf,
               row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank
        FROM fused) t
      WHERE rank <= 10 ORDER BY q_id, rank"""))

  val all: Seq[QueryDef] = Seq(a08, a09)
}
