package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.{QueryDef, Tables}
import graft.functions.ExpressionHelpers
import graft.functions.GraftFunctions.{pqCode, vecDot}

/** Approximate/exact nearest-neighbor search over the `embeddings` table.
  *
  * a01 is the brute-force cosine top-k baseline: the (small) query set is
  * broadcast against the candidate scan, so the plan is a single pass over
  * the big side — the correct shape at 100 TB when |Q| is small. The dot
  * product is the native codegen'd [[graft.functions.VecDot]] — a
  * sequential double fold, so the result is bit-deterministic (and
  * bit-identical to the interpreted `aggregate(zip_with(...))` HOF form
  * it replaced).
  *
  * a02 is the scale path: random-hyperplane LSH (signs of md5-derived
  * pseudo-random projections) buckets vectors so only same-bucket pairs are
  * scored — the candidate join is an equi-join on the signature.
  */
object AnnOps {
  // native codegen'd sequential fold (graft.functions.VecDot) — replaces
  // the interpreted aggregate(zip_with(...)) HOF form, same bit pattern
  private def dotCol = vecDot(col("emb"), col("q_emb"))

  /** sign(h(p,d)) in {+1,-1} from md5("p_d") — the engine-agnostic
    * pseudo-random hyperplane convention shared by a02's signature gate,
    * [[lshKnn]], and the DuckDB oracles. The (plane x dim) matrix is a
    * CONSTANT: precomputed driver-side and inlined as literals so
    * executors do one multiply-add per element, not an md5 per
    * (row, plane, dim).
    */
  private[operators] def planeSign(p: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${p}_$d".getBytes("UTF-8"))
    if (((hex(0) >> 4) & 0xf) < 8) 1.0 else -1.0
  }

  /** One "1"/"0" sign-bit Column per hyperplane for an `emb` column of
    * width `dim` (the fixed-width embedding contract).
    */
  private def planeBits(nPlanes: Int, dim: Int): Seq[org.apache.spark.sql.Column] =
    (0 until nPlanes).map { p =>
      val row = typedlit((0 until dim).map(d => planeSign(p, d)))
      when(vecDot(col("emb"), row) >= 0, "1").otherwise("0")
    }

  /** Brute-force cosine top-k for query vectors vec_id < 5 — the a01
    * gate body at its default depth, parameterized so callers that fuse
    * this ranking (a09's RRF) can ask for a deeper list without silently
    * fusing a truncated one.
    */
  private[graft] def denseTopK(s: SparkSession, dir: String,
      k: Int = 10): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("emb"))
      .withColumn("norm", sqrt(vecDot(col("emb"), col("emb"))))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("norm").as("q_norm"))
    val scored = e.filter(col("vec_id") >= 5)
      .crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        (dotCol / (col("norm") * col("q_norm"))).as("sim"))
    topKPerQuery(scored, "sim", k)
  }

  /** Brute-force cosine top-k (k=10) for query vectors vec_id < 5. */
  val a01 = QueryDef(
    "a01_knn_cosine",
    "brute-force cosine top-k with broadcast query set",
    (s, dir) => denseTopK(s, dir),
    Some("""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings),
      n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM e),
      q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM n WHERE vec_id < 5),
      sc AS (SELECT q_id, vec_id,
               list_dot_product(emb, q_emb) / (norm * q_norm) AS sim
             FROM n CROSS JOIN q WHERE vec_id >= 5)
      SELECT q_id, vec_id, rank, sim FROM (
        SELECT q_id, vec_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        FROM sc) t
      WHERE rank <= 10 ORDER BY q_id, rank"""))

  /** Random-hyperplane LSH bucketing: 8-bit signature from sign hashes of
    * (plane, dimension) md5 values; emits bucket sizes (the index build).
    */
  val a02 = QueryDef(
    "a02_lsh_buckets",
    "random-hyperplane LSH signature + bucket histogram",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x AS double))").as("emb"))
      // sign-matrix width comes from the data (first row; embeddings are
      // fixed-width by contract) — a hardcoded cap narrower than the
      // vectors would silently diverge from the oracle, which projects
      // over ALL dims (round-1 ADVICE). vec_dot requires equal lengths
      // (HOF-null semantics); the sign rows are built at exactly the
      // data's width.
      val maxDim = e.select(size(col("emb"))).take(1) // empty table → 0-dim
        .headOption.map(_.getInt(0)).getOrElse(0)
      val sig = e.select(col("vec_id"), concat(planeBits(8, maxDim): _*).as("sig"))
      sig.groupBy(col("sig"))
        .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))
        .orderBy(col("sig"))
    },
    Some {
      s"""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings),
        sig AS (SELECT vec_id, ${planeSql(8)} AS sig FROM e)
        SELECT sig, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec
        FROM sig GROUP BY sig ORDER BY sig"""
    })

  /** DuckDB replica of [[planeBits]] over a CTE exposing `emb`: one
    * projection term per plane p — sum over dims of +-emb[d], sign from
    * the same md5("p_d") convention — concatenated to an `nPlanes`-bit
    * "1"/"0" string. Shared by the a02 and a04 oracles.
    */
  private def planeSql(nPlanes: Int): String =
    (0 until nPlanes).map { p =>
      s"""CASE WHEN list_sum(list_transform(range(len(emb)), d ->
            CASE WHEN substring(md5('$p' || '_' || CAST(d AS VARCHAR)), 1, 1) < '8'
                 THEN emb[d + 1] ELSE -emb[d + 1] END)) >= 0
          THEN '1' ELSE '0' END"""
    }.mkString(" || ")

  /** Banded hyperplane-LSH top-k retrieval — the search companion to
    * a02's signature/index build: `nPlanes` sign bits split into
    * `nBands` bands; candidates are the vectors sharing ANY band value
    * with the query (OR-amplification — the d02 MinHash-band shape),
    * then ONLY candidates are scored exactly and ranked. At 100 TB the
    * candidate step is a (band, band_sig) equi-join, shuffle-partitioned
    * by bucket — never all-pairs — and the query side broadcasts.
    *
    * Retrieval quality (pinned by AnnRecallSpec on the synthetic
    * embeddings vs a01's exact top-k): the 8-plane/4-band default holds
    * mean recall@10 ≥ 0.7 (measured 0.82 at sf0.001) while pruning ~1/3
    * of the corpus from scoring. The band/width trade is real: 16x4
    * (4-bit bands) cuts candidates to ~26 % of the corpus but recall to
    * ~0.36 on this data — tune per corpus with the recall harness.
    */
  def lshKnn(s: SparkSession, dir: String, nPlanes: Int = 8,
             nBands: Int = 4, k: Int = 10): DataFrame = {
    require(nPlanes % nBands == 0, s"nBands ($nBands) must divide nPlanes ($nPlanes)")
    val perBand = nPlanes / nBands
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("emb"))
      .withColumn("norm", sqrt(vecDot(col("emb"), col("emb"))))
    val maxDim = e.select(size(col("emb"))).take(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    val bits = planeBits(nPlanes, maxDim)
    val bandCols = (0 until nBands).map(b =>
      concat(bits.slice(b * perBand, (b + 1) * perBand): _*))
    // (vec_id, band, band-signature) — one row per band, so same-band
    // matches are a plain equi-join on (band, bsig)
    val sig = e.select(col("vec_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bsig")))
    val qsig = sig.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("band"), col("bsig"))
    val cand = sig.filter(col("vec_id") >= 5)
      .join(broadcast(qsig), Seq("band", "bsig"))
      .select(col("q_id"), col("vec_id")).distinct()
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("norm").as("q_norm"))
    val scored = cand
      .join(e, Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotCol / (col("norm") * col("q_norm"))).as("sim"))
    topKPerQuery(scored, "sim", k)
  }

  /** The [[lshKnn]] default (8 planes x 4 bands, k=10) as a gated query:
    * banded-LSH retrieval vs the DuckDB band-join replica — the search
    * half of the a02 index build, oracled end-to-end (candidate
    * generation AND exact re-scoring), so approximation plumbing bugs
    * (band slicing, OR-amplification dedup, query-side exclusion) fail
    * the hash compare rather than just nudging recall.
    */
  val a04 = QueryDef(
    "a04_lsh_knn",
    "banded hyperplane-LSH top-k retrieval (8 planes x 4 bands)",
    (s, dir) => lshKnn(s, dir),
    Some {
      s"""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings),
        n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM e),
        sig AS (SELECT vec_id, ${planeSql(8)} AS sig FROM e),
        bands AS (SELECT vec_id, CAST(b.range AS INT) AS band,
                    substring(sig, CAST(b.range AS INT) * 2 + 1, 2) AS bsig
                  FROM sig CROSS JOIN range(4) b),
        cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id
                 FROM bands c JOIN bands q USING (band, bsig)
                 WHERE c.vec_id >= 5 AND q.vec_id < 5),
        q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM n WHERE vec_id < 5),
        sc AS (SELECT c.q_id, c.vec_id,
                 list_dot_product(qq.q_emb, v.emb) / (qq.q_norm * v.norm) AS sim
               FROM cand c JOIN q qq USING (q_id) JOIN n v ON v.vec_id = c.vec_id)
        SELECT q_id, vec_id, rank, sim FROM (
          SELECT q_id, vec_id, sim,
                 row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
          FROM sc) t
        WHERE rank <= 10 ORDER BY q_id, rank"""
    })

  /** Per-query retrieval recall of an approximate ANN result against the
    * exact baseline, both in the `(q_id, vec_id, rank, sim)` result shape
    * produced by [[a01]]/[[lshKnn]]/[[a03]] — the tuning signal for
    * band/probe choices (recall floors for the shipped defaults are
    * pinned in AnnRecallSpec). Output: `(q_id, n_exact, n_hit, recall)`,
    * one row per query; `avg(recall)` gives the corpus mean. Distributed:
    * one semi-join on (q_id, vec_id) + per-query counts — no collect, so
    * it scales to evaluation sets far beyond driver memory.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val ex = exact.select(col("q_id"), col("vec_id"))
    val hits = ex
      .join(approx.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    ex.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
      .orderBy(col("q_id"))
  }

  /** The `embeddings` table in the ANN working shape:
    * (vec_id, emb double[], norm), a plain scan: a `vec_id` filter on it
    * prunes the read.
    */
  private[operators] def embeddings(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("emb"))
      .withColumn("norm", sqrt(vecDot(col("emb"), col("emb"))))

  /** [[embeddings]], cached and materialized — assignment, probes and
    * scoring all reuse it.
    */
  private[graft] def embTable(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).cache()
    e.count()
    e
  }

  /** IVF search core shared by the seeded gate ([[a03]]) and the
    * k-means-trained path ([[ivfKnnTrained]]), from collected panels:
    * assign every vector to its nearest centroid by cosine
    * ([[CentroidAssign.nearestOf]]), probe each query's `nProbes` nearest
    * cells ([[probedCands]]) and exactly score ONLY the probed cells.
    * `qs` is the query panel (vec_id < 5, the gate's query convention)
    * and `cents` the centroids, both `(id, emb, norm)`: a coarse
    * quantizer is k << corpus by definition, so assignment, probe pick
    * and the broadcast query side all derive from these literal rows.
    */
  private[operators] def ivfSearch(e: DataFrame,
      qs: Seq[(Long, Seq[Double], Double)],
      cents: Seq[(Long, Seq[Double], Double)],
      nProbes: Int = 2, topK: Int = 10): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val scored = probedCands(qs, cents, CentroidAssign.nearestOf(e, cents), nProbes)
      .join(e, Seq("vec_id"))
      .join(broadcast(qs.toDF("q_id", "q_emb", "q_norm")), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dotCol / (col("norm") * col("q_norm"))).as("sim"))
    topKPerQuery(scored, "sim", topK)
  }

  /** Each query's top `k` rows of `scored` by `score` desc, ties to the
    * smaller vec_id, as `(q_id, vec_id, rank, score)` ordered by
    * (q_id, rank): the rank tail of every top-k search here.
    */
  private def topKPerQuery(scored: DataFrame, score: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col(score).desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank"), col(score))
      .orderBy(col("q_id"), col("rank"))
  }

  /** `(vec_id, emb, norm)` rows with `vec_id < below`, collected: the
    * seeded model panel (centroids and PQ codebook rows, [[seededCodes]])
    * or, with `below = 5`, the query panel.
    */
  private[operators] def collectSeeds(e: DataFrame,
      below: Int): Seq[(Long, Seq[Double], Double)] =
    e.filter(col("vec_id") < below)
      .select(col("vec_id"), col("emb"), col("norm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq

  /** A centroid frame `(c_id, c_emb, c_norm)` collected as literal rows. */
  private[operators] def collectCents(cents: DataFrame): Seq[(Long, Seq[Double], Double)] =
    cents.select(col("c_id").cast("long"), col("c_emb"), col("c_norm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq

  /** THE probe pick of the IVF family: each query's `nProbes` nearest
    * centroids by cosine, best first, as `(q_id, c_id, psim)` with a null
    * psim as None. Scores, order and zero-divisor handling are
    * [[graft.functions.ExpressionHelpers.rankCentroids]]', i.e. the
    * assignment's ([[CentroidAssign]]): `Divide` semantics (a zero norm
    * scores null and ranks lowest, or raises under ANSI), NaN highest,
    * ties to the smallest c_id — the DuckDB oracles' `ORDER BY psim
    * DESC, c_id` order. Driver-side over |Q|·k scalars.
    */
  private[operators] def probeRowsOf(qs: Seq[(Long, Seq[Double], Double)],
      cents: Seq[(Long, Seq[Double], Double)],
      nProbes: Int): Seq[(Long, Long, Option[Double])] = {
    val ids = cents.map(_._1).toArray
    val embs = cents.map(_._2.toArray).toArray
    val norms = cents.map(_._3).toArray
    val ansi = SQLConf.get.ansiEnabled
    qs.flatMap { case (qid, qe, qn) =>
      ExpressionHelpers.rankCentroids(qe.toArray, qn, embs, norms, ids, ansi, nProbes)
        .map { case (i, psim) => (qid, ids(i), psim) }
    }
  }

  /** The (q_id, vec_id) candidates of the IVF family: the vectors of
    * `assign` `(vec_id, c_id)` in each query's probed cells
    * ([[probeRowsOf]]), corpus side `vec_id >= 5`.
    */
  private def probedCands(qs: Seq[(Long, Seq[Double], Double)],
      cents: Seq[(Long, Seq[Double], Double)], assign: DataFrame,
      nProbes: Int): DataFrame = {
    val s = assign.sparkSession
    import s.implicits._
    broadcast(probeRowsOf(qs, cents, nProbes).map(t => (t._1, t._2)).toDF("q_id", "c_id"))
      .join(assign, Seq("c_id"))
      .filter(col("vec_id") >= 5)
      .select(col("q_id"), col("vec_id"))
  }

  /** Deterministic-structure Lloyd (k-means) refinement for the IVF
    * coarse quantizer: start from a03's seed convention (first k
    * vec_ids), then `iters` rounds of cosine assignment + element-wise
    * mean. The mean is posexplode → avg → rebuild sorted by dimension
    * position, so the STRUCTURE is fully deterministic; the float VALUES
    * are partition-summation-order-dependent like any distributed mean —
    * which is why the trained path is spec-pinned (recall floor and
    * no-worse-than-seeded in AnnRecallSpec) instead of hash-oracled. An
    * emptied cell drops out (standard Lloyd degeneracy; k only shrinks).
    *
    * Scale shape per iteration: one broadcast-join assignment over the
    * corpus and one (c_id, dim)-keyed mean — shuffle volume rows × dim,
    * the standard distributed k-means cost; k and iters are small
    * constants. Centroids live in one in-memory DataFrame of k rows.
    */
  def kmeansCentroids(e: DataFrame, k: Int = 16, iters: Int = 2): DataFrame = {
    // seed with the k SMALLEST vec_ids present (TakeOrderedAndProject, no
    // full sort) — NOT `vec_id < k`: the input may be a filtered subset
    // (semanticDedupTrained over decile survivors) or an offset id space
    // (sharded corpora), where a literal id threshold finds few or zero
    // seeds and the quantizer silently degenerates (r10 review finding).
    // Identical to the old convention whenever ids are dense from 0.
    // Each Lloyd round holds the k centroids at the driver; the
    // map-side-combined (c_id, pos) mean is its only exchange, and its
    // float low bits depend on summation order (so: recall-pinned).
    val s = e.sparkSession
    import s.implicits._
    var cents: Seq[(Long, Seq[Double], Double)] =
      e.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id"), col("emb"), col("norm")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toSeq
    var i = 0
    while (i < iters && cents.nonEmpty) {
      val means = CentroidAssign.nearestOf(e, cents, carry = Seq("emb"))
        .select(col("c_id"), posexplode(col("emb")).as(Seq("pos", "v")))
        .groupBy(col("c_id"), col("pos")).agg(avg(col("v")).as("m"))
        .collect()
      // an emptied cell drops out (standard Lloyd degeneracy; k only shrinks)
      cents = means.groupBy(_.getLong(0)).toSeq.map { case (cid, rows) =>
        val emb = rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        (cid, emb, math.sqrt(dotSeq(emb, emb)))
      }.sortBy(_._1)
      i += 1
    }
    cents.toDF("c_id", "c_emb", "c_norm")
  }

  /** IVF top-k with Lloyd-trained centroids — the production IVF shape
    * (train the quantizer, then probe): [[kmeansCentroids]] over the
    * corpus, then [[ivfSearch]] with the trained cells. Quality pinned by
    * AnnRecallSpec against a01's exact top-k.
    */
  def ivfKnnTrained(s: SparkSession, dir: String, k: Int = 16,
      iters: Int = 2, nProbes: Int = 2, topK: Int = 10): DataFrame = {
    val e = embTable(s, dir)
    // the k trained rows are a local frame: collecting them runs no job
    val cents = collectCents(kmeansCentroids(e, k, iters))
    val out = ivfSearch(e, collectSeeds(e, 5), cents, nProbes, topK)
      .localCheckpoint(true)
    e.unpersist(blocking = false)
    out
  }

  /** IVF-Flat shape (the other standard ANN scale path next to a02's
    * LSH): a deterministic coarse quantizer — the first 16 vectors act as
    * centroids (seeded, no k-means iterations, so the DuckDB oracle can
    * replicate it exactly) — assigns every vector to its nearest centroid
    * by cosine; each query probes its 2 nearest centroids and scores
    * exactly ONLY the vectors in those cells. At 100 TB: assignment is
    * one narrow projection ([[CentroidAssign]], no shuffle), and search
    * touches 2/16 of the corpus per query instead of all of it. The
    * Lloyd-trained variant of the same search is [[ivfKnnTrained]].
    *
    * Retrieval quality (pinned by AnnRecallSpec): 2-probe of 16 cells
    * holds mean recall@10 ≥ 0.7 vs a01's exact top-k on the synthetic
    * embeddings (measured 0.82 at sf0.001) while scoring ~2/16 of the
    * corpus — raise probes for higher recall at linear scoring cost.
    */
  val a03 = QueryDef(
    "a03_ivf_knn",
    "IVF coarse-quantized cosine top-k (seeded centroids, 2 probes)",
    (s, dir) => {
      val e = embTable(s, dir)
      // ONE driver round-trip for the whole seeded model (r18): the 16
      // seed rows are centroids AND query panel; assignment, probe pick
      // and scoring all derive from this collect (r17 paid a separate
      // collect inside the assignment plus probe/query subtrees over the
      // cached corpus).
      val seeds = collectSeeds(e, 16)
      // materialize the small top-k result, then release the corpus-sized
      // embTable cache (r10 review: the hygiene fix freed only the k-row
      // frames while the corpus cache accumulated per call)
      val out = ivfSearch(e, seeds.filter(_._1 < 5), seeds).localCheckpoint(true)
      e.unpersist(blocking = false)
      out
    },
    Some("""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings),
      n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM e),
      seeds AS (SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm FROM n WHERE vec_id < 16),
      assign AS (SELECT vec_id, c_id FROM (
          SELECT v.vec_id, s.c_id,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY list_dot_product(v.emb, s.c_emb) / (v.norm * s.c_norm) DESC, s.c_id) AS rn
          FROM n v CROSS JOIN seeds s) t WHERE rn = 1),
      q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM n WHERE vec_id < 5),
      probes AS (SELECT q_id, c_id FROM (
          SELECT qq.q_id, s.c_id,
                 row_number() OVER (PARTITION BY qq.q_id
                   ORDER BY list_dot_product(qq.q_emb, s.c_emb) / (qq.q_norm * s.c_norm) DESC, s.c_id) AS rn
          FROM q qq CROSS JOIN seeds s) t WHERE rn <= 2),
      cand AS (SELECT q_id, vec_id FROM probes JOIN assign USING (c_id) WHERE vec_id >= 5),
      sc AS (SELECT c.q_id, c.vec_id,
               list_dot_product(qq.q_emb, v.emb) / (qq.q_norm * v.norm) AS sim
             FROM cand c JOIN q qq USING (q_id) JOIN n v ON v.vec_id = c.vec_id)
      SELECT q_id, vec_id, rank, sim FROM (
        SELECT q_id, vec_id, sim,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
        FROM sc) t
      WHERE rank <= 10 ORDER BY q_id, rank"""))

  /** Johnson–Lindenstrauss random projection — embedding COMPRESSION next
    * to the search family: project each vector onto k=8 ±1 hyperplanes
    * (the same md5-derived sign matrix a02/a04 binarize) and scale by
    * 1/sqrt(k), preserving pairwise distances to within the JL bound.
    * The shape that feeds a cheap pre-filter stage (score in 8-d, rescore
    * survivors in full-d) or shrinks an embedding store ~8x at rest.
    *
    * Per row this is k sequential-fold dot products ([[graft.functions.
    * VecDot]]) and one multiply — a narrow map with no shuffle at all, so
    * it streams at scan speed at 100 TB. Every op is bit-deterministic
    * (the fold is sequential; ±1 multiplies and the constant scale are
    * exact IEEE ops), which is why the gate hash-oracles real doubles
    * against DuckDB's list_dot_product rather than pinning invariants.
    */
  val a05 = QueryDef(
    "a05_jl_project",
    "Johnson-Lindenstrauss +-1 projection to 8 dims (1/sqrt(k) scale)",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x AS double))").as("emb"))
      val maxDim = e.select(size(col("emb"))).take(1)
        .headOption.map(_.getInt(0)).getOrElse(0)
      val scale = lit(1.0 / math.sqrt(8.0))
      val pCols = (0 until 8).map { p =>
        val row = typedlit((0 until maxDim).map(d => planeSign(p, d)))
        (vecDot(col("emb"), row) * scale).as(s"p$p")
      }
      e.select(col("vec_id") +: pCols: _*).orderBy(col("vec_id"))
    },
    Some {
      val pExprs = (0 until 8).map { p =>
        s"""list_dot_product(emb, list_transform(range(len(emb)), d ->
              CASE WHEN substring(md5('$p' || '_' || CAST(d AS VARCHAR)), 1, 1) < '8'
                   THEN 1.0 ELSE -1.0 END)) * (1.0 / sqrt(8.0)) AS p$p"""
      }.mkString(",\n             ")
      s"""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings)
        SELECT vec_id,
             $pExprs
        FROM e ORDER BY vec_id"""
    })

  /** Product quantization + asymmetric distance (ADC) top-k — the
    * billion-scale MEMORY path the IVF/LSH gates don't cover: each
    * 64-dim vector compresses to eight 4-bit codes (one argmin per 8-dim
    * subspace against a 16-entry codebook), and queries score candidates
    * WITHOUT decompressing — the score is a sum of 8 codebook dot
    * products selected by code. This is how an embedding store shrinks
    * ~64× to fit hot memory at corpus scale; production pairs it with
    * the a03 IVF cells (IVF-PQ) so ADC only runs inside probed cells.
    *
    * Gate conventions: codebook = subvectors of the a03 seeds
    * (`vec_id < 16`), encode ties to the smallest code, queries are
    * `vec_id < 5` scored against the `≥ 5` corpus. Every distance/dot is
    * a bit-exact `vec_dot` fold; the 8-term ADC sum is aggregation-
    * ordered so it lands under ROUND(…, 6) (the t18/g04 float
    * convention) before the rank window, whose tie-break is vec_id.
    */
  val a06 = QueryDef(
    "a06_pq_adc",
    "product-quantization ADC top-k (8x8-dim subspaces, 16 seeded codes)",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x AS double))").as("emb"))
      // ONE collect of the 16 seed rows yields the codebook for the
      // encode projection and the ADC LUT (vecDot's exact summation)
      val seedEmb = embRows(e, 16)
      pqAdcTopK(subvectors(e), seedEmb.filter(_._1 < 5), seededCodes(seedEmb), 10)
    },
    Some("""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings),
      g AS (SELECT CAST(unnest(range(8)) AS INT) AS s),
      subs AS (SELECT vec_id, s, emb[s*8+1 : s*8+8] AS xs FROM e CROSS JOIN g),
      cb AS (SELECT vec_id AS j, s, xs AS cs FROM subs WHERE vec_id < 16),
      enc AS (SELECT vec_id, s, cs FROM (
          SELECT sub.vec_id, sub.s, c.cs,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.s
                   ORDER BY list_dot_product(sub.xs, sub.xs)
                            - 2 * list_dot_product(sub.xs, c.cs)
                            + list_dot_product(c.cs, c.cs), c.j) AS rn
          FROM subs sub JOIN cb c ON sub.s = c.s
          WHERE sub.vec_id >= 5) t WHERE rn = 1),
      q AS (SELECT vec_id AS q_id, s, xs AS qs FROM subs WHERE vec_id < 5),
      sc AS (SELECT q.q_id, enc.vec_id,
               ROUND(SUM(list_dot_product(q.qs, enc.cs)), 6) AS adc
             FROM enc JOIN q ON enc.s = q.s
             GROUP BY q.q_id, enc.vec_id)
      SELECT q_id, vec_id, rank, adc FROM (
        SELECT q_id, vec_id, adc,
               row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS rank
        FROM sc) t
      WHERE rank <= 10 ORDER BY q_id, rank"""))

  /** Per-subspace L2 Lloyd refinement of the PQ codebooks — the trained
    * counterpart to a06's seed convention, as [[kmeansCentroids]] stands
    * beside a03. `subs` carries `(vec_id, s, xs)`; returns `(j, s, cs)`,
    * seeded from the subvectors of the k SMALLEST vec_ids present (not
    * `vec_id < k`, which trains nothing for an offset id space such as an
    * epoch of appended ids). Each of the `iters` rounds holds the codebook
    * at the driver and assigns every subvector under [[pqEncode]]'s
    * contract (one narrow projection); the per-(s, j, pos) mean is the
    * round's only exchange, and a code with no subvectors keeps its
    * centroid. The means' float low bits depend on summation order, so
    * trained codebooks are recall-pinned, not hashed.
    */
  def pqCodebooks(subs: DataFrame, k: Int = 16, iters: Int = 2): DataFrame = {
    val s0 = subs.sparkSession
    import s0.implicits._
    val seedIds = subs.select(col("vec_id")).distinct()
      .orderBy(col("vec_id")).limit(k)
    var cb: Seq[(Long, Int, Seq[Double])] =
      subs.join(broadcast(seedIds), Seq("vec_id"))
        .select(col("vec_id").as("j"), col("s"), col("xs")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    var i = 0
    while (i < iters && cb.nonEmpty) {
      val trained: Map[(Long, Int), Seq[Double]] = withCode(subs, cb)
        .select(col("s"), col("__code.j").as("j"),
          posexplode(col("xs")).as(Seq("pos", "v")))
        .groupBy(col("s"), col("j"), col("pos")).agg(avg(col("v")).as("m"))
        .collect()
        .groupBy(r => (r.getLong(1), r.getInt(0)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      cb = cb.map { case (j, si, prev) =>
        (j, si, trained.getOrElse((j, si), prev))
      }
      i += 1
    }
    cb.toDF("j", "s", "cs")
  }

  /** a06's search with trained codebooks: [[pqCodebooks]] replaces the
    * seeded table, everything downstream identical. Recall lift pinned
    * in AnnRecallSpec.
    */
  def pqAdcTrained(s: SparkSession, dir: String, k: Int = 16,
                   iters: Int = 2, topK: Int = 10): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("emb"))
    val subs = subvectors(e).cache()
    subs.count() // single fill: codebook training + encode
    // the trained codebook is a local frame: collecting it runs no job
    val codes = collectCodes(pqCodebooks(subs, k, iters))
    // materialize the (queries × topK)-row result, then release the cached
    // sub-vector table (r9 ADVICE session-cache hygiene)
    val out = pqAdcTopK(subs, embRows(e, 5), codes, topK).localCheckpoint(true)
    subs.unpersist(blocking = false)
    out
  }

  /** `(vec_id, emb)` rows with `vec_id < below`, collected. */
  private def embRows(e: DataFrame, below: Int): Seq[(Long, Seq[Double])] =
    e.filter(col("vec_id") < below).select(col("vec_id"), col("emb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  /** PQ-ADC top-k of the queries `qs` over the whole `vec_id >= 5` side of
    * `subs` `(vec_id, s, xs)`, from codebook rows held on the driver:
    * encode against `codes`, then one broadcast lookup of the
    * |Q|×8×|codes| LUT ([[adcLutFromRows]]) per code, summed and rounded
    * 6-dp before the rank window.
    */
  private def pqAdcTopK(subs: DataFrame, qs: Seq[(Long, Seq[Double])],
      codes: Seq[(Long, Int, Seq[Double])], topK: Int): DataFrame = {
    val s = subs.sparkSession
    import s.implicits._
    val encJ = pqEncodeOf(subs.filter(col("vec_id") >= 5), codes)
      .select(col("vec_id"), col("s"), col("j"))
    val lut = adcLutFromRows(qs, codes).toDF("q_id", "s", "j", "term")
    val scored = encJ.join(broadcast(lut), Seq("s", "j"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(round(sum(col("term")), 6).as("adc"))
    topKPerQuery(scored, "adc", topK)
  }

  /** IVF-PQ — the production pairing the a03/a06 docs point at: the
    * coarse quantizer prunes candidates to the probed cells (a03's
    * assignment + probe front half) and PQ codes score those candidates
    * by ADC (a06's back half), so FULL-PRECISION corpus vectors never
    * enter the search path — cells bound the work, codes bound the
    * memory, which is exactly how billion-vector serving fits a RAM
    * budget. Same conventions throughout: seeded cells and codebooks,
    * smallest-id ties, queries `vec_id < 5` vs the `≥ 5` corpus.
    */
  def ivfPqKnn(s: SparkSession, dir: String, kCells: Int = 16,
               nProbes: Int = 2, topK: Int = 10): DataFrame = {
    val e = embTable(s, dir)
    val out = topKPerQuery(ivfPqAdcScored(e, kCells, nProbes), "adc", topK)
      .localCheckpoint(true)
    e.unpersist(blocking = false)
    out
  }

  /** The in-memory IVF-PQ candidate scoring of [[ivfPqKnn]] and
    * [[ivfPqKnnRefined]]: ONE seed-panel collect feeds the centroids, the
    * codebook rows and the query panel (the seeded queries, vec_id < 5,
    * are a subset of the seeds, vec_id < kCells ≥ 16), then
    * [[adcScoreLut]] over the corpus assignment and codes. Returns
    * `(q_id, vec_id, adc)`.
    */
  private[operators] def ivfPqAdcScored(e: DataFrame, kCells: Int,
                             nProbes: Int): DataFrame = {
    // one collect covers both conventions: cells are vec_id < kCells,
    // the codebook is vec_id < 16 regardless of kCells
    val seeds = collectSeeds(e, math.max(kCells, 16))
    val cells = seeds.filter(_._1 < kCells)
    val codes = seededCodes(seeds.filter(_._1 < 16).map(t => (t._1, t._2)))
    val encJ = pqEncodeOf(subvectors(e).filter(col("vec_id") >= 5), codes)
      .select(col("vec_id"), col("s"), col("j"))
    adcScoreLut(seeds.filter(_._1 < 5), cells, codes,
      CentroidAssign.nearestOf(e, cells), encJ, nProbes)
  }

  // ---- factored IVF-PQ building blocks, shared verbatim with the
  // [[IndexStore]] persisted-index build + query paths (a11's parity
  // contract: the at-rest index must hold exactly what this in-memory
  // chain computes).

  /** a03/a06/a07 seeded-centroid convention: `vec_id < kCells`. */
  private[operators] def seededCents(e: DataFrame, kCells: Int): DataFrame =
    e.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
        col("norm").as("c_norm"))

  /** The 8×8-dim subvector explode of an (vec_id, emb) frame. */
  private[operators] def subvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("s"),
        col("emb"))
      .select(col("vec_id"), col("s"),
        expr("slice(emb, s * 8 + 1, 8)").as("xs"))

  /** a06's seeded codebook: subvectors of `vec_id < 16` as the 16 codes. */
  private[operators] def seededCodebook(subs: DataFrame): DataFrame =
    subs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("j"), col("s"), col("xs").as("cs"))

  /** Driver-side [[graft.functions.ExpressionHelpers.dot]] — vecDot's
    * summation order, so literals precomputed here substitute for the
    * Spark expression inside hash-gated plans.
    */
  private def dotSeq(a: Seq[Double], b: Seq[Double]): Double =
    ExpressionHelpers.dot(a.toArray, b.toArray)

  /** A codebook frame `(j, s, cs)` collected as literal rows. */
  private[operators] def collectCodes(cb: DataFrame): Seq[(Long, Int, Seq[Double])] =
    cb.select(col("j").cast("long"), col("s").cast("int"), col("cs")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2))).toSeq

  /** PQ-encode `(vec_id, s, xs)` rows against codebook `cb` `(j, s, cs)`
    * into `(vec_id, s, j, cs)`. A row's candidates are the codes at its
    * `s`; the least `d2 = (xs·xs − 2·xs·cs) + cs·cs` (that float grouping,
    * vecDot's summation order) wins, ties to the smallest j, under Spark's
    * double ordering: a null d2 first, NaN last, -0.0 equal to 0.0. A row
    * whose `s` has no codes is dropped, so an empty codebook gives no
    * rows. `cb` is collected eagerly, when the frame is built, so it must
    * be cheap (materialized, a pruned scan, or local). The plan is one
    * codegen projection ([[graft.functions.PqCode]]), no exchange.
    */
  private[operators] def pqEncode(subs: DataFrame, cb: DataFrame): DataFrame =
    pqEncodeOf(subs, collectCodes(cb))

  /** [[pqEncode]] from codebook rows the caller already holds. */
  private def pqEncodeOf(subs: DataFrame,
      codes: Seq[(Long, Int, Seq[Double])]): DataFrame =
    withCode(subs, codes).select(col("vec_id"), col("s"),
      col("__code.j").as("j"), col("__code.cs").as("cs"))

  /** `subs` rows whose `s` has codes, plus the winning code as `__code`:
    * the one lookup behind [[pqEncode]] and [[pqCodebooks]]. */
  private def withCode(subs: DataFrame,
      codes: Seq[(Long, Int, Seq[Double])]): DataFrame =
    subs.filter(col("s").isin(codes.map(_._2).distinct: _*))
      .withColumn("__code", pqCode(col("xs"), col("s"), codes))

  /** [[seededCodebook]]'s rows, sliced driver-side from collected seed
    * embeddings (`emb.slice(s·8, s·8+8)` ≡ `slice(emb, s*8+1, 8)`). */
  private def seededCodes(seeds: Seq[(Long, Seq[Double])])
      : Seq[(Long, Int, Seq[Double])] =
    for {
      (j, emb) <- seeds.sortBy(_._1)
      si <- 0 until 8
    } yield (j, si, emb.slice(si * 8, si * 8 + 8))

  /** Driver-side ADC lookup table (the classic |Q|×8×|codes| LUT):
    * term(q, s, j) = qsubs(q,s)·cs(j,s) with [[dotSeq]]'s exact vecDot
    * summation order, so every term is bit-identical to `vecDot(qs, cs)`
    * and scoring is ONE broadcast join of literal rows. Codebook rows
    * come as `(j, s, cs)`: seeded, trained, or a persisted
    * [[IndexStore]] table.
    */
  private[operators] def adcLutFromRows(qs: Seq[(Long, Seq[Double])],
      cb: Seq[(Long, Int, Seq[Double])]): Seq[(Long, Int, Long, Double)] =
    for {
      (qid, qemb) <- qs
      (j, si, csv) <- cb
    } yield (qid, si, j, dotSeq(qemb.slice(si * 8, si * 8 + 8), csv))

  /** THE IVF-PQ query form, shared by the in-memory gates
    * ([[ivfPqAdcScored]]) and the at-rest index
    * ([[IndexStore.ivfPqRefinedFromIndex]], hence every epoch leg): the
    * query panel `qs` (vec_id < 5), centroids `cents` and codebook rows
    * `codes` are collected by the caller; probes come from
    * [[probedCands]] over `assign` `(vec_id, c_id)`, and each candidate's
    * codes `encJ` `(vec_id, s, j)` look up the literal LUT
    * ([[adcLutFromRows]]) in one broadcast join. Returns `(q_id, vec_id,
    * adc)`: Σ_s term(q, s, code), ROUND 6 (the a06 float convention)
    * before any rank window. Candidates join the codes first, so decode
    * work is bounded by |cand| · 8 subspaces, never the corpus.
    */
  private[operators] def adcScoreLut(qs: Seq[(Long, Seq[Double], Double)],
      cents: Seq[(Long, Seq[Double], Double)],
      codes: Seq[(Long, Int, Seq[Double])], assign: DataFrame,
      encJ: DataFrame, nProbes: Int): DataFrame = {
    val s = assign.sparkSession
    import s.implicits._
    val lut = adcLutFromRows(qs.map(t => (t._1, t._2)), codes)
      .toDF("q_id", "s", "j", "term")
    probedCands(qs, cents, assign, nProbes)
      .join(encJ, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "s", "j"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(round(sum(col("term")), 6).as("adc"))
  }

  /** [[adcScoreLut]] then [[refineAdcShortlist]] on the driver, over
    * rows read filtered to what the query touches: `cands` are the
    * `(q_id, vec_id)` pairs of each query's probed cells (corpus side,
    * tombstones already dropped), `codes` `(vec_id, s, j)` is read over
    * the candidates' id range and `e` `(vec_id, emb, norm)` for the
    * shortlist only. Each candidate's ADC sums its LUT terms
    * ([[adcLutFromRows]]) in subspace order and rounds 6-dp; the refine
    * cosine is [[graft.functions.ExpressionHelpers.cosine]] (`Divide`'s
    * null and ANSI rule), rounded 6-dp; both rank with [[byQuery]].
    * Returns the refined top-k as a local frame, no job, or None above
    * `driverLimit` code rows. vec_ids are unique in `codes` per subspace
    * and in `e` (the tables' contract).
    */
  private[operators] def adcRefineLocal(qs: Seq[(Long, Seq[Double], Double)],
      lutCodes: Seq[(Long, Int, Seq[Double])], cands: Seq[(Long, Long)],
      codes: DataFrame, e: DataFrame, topK: Int, refineFactor: Int,
      driverLimit: Int): Option[DataFrame] = {
    // the candidates' codes: a range read (row-group pruned, cheaper to
    // plan than an IN list of every candidate), kept to the candidates
    // here; None when the range holds more than `driverLimit` code rows
    val ids = cands.map(_._2).toSet
    val inRange = if (ids.isEmpty) Array.empty[Row] else codes
      .filter(col("vec_id").between(ids.min, ids.max))
      .select(col("vec_id"), col("s").cast("int"), col("j").cast("long"))
      .limit(driverLimit + 1).collect()
    if (inRange.length > driverLimit) return None
    val enc = inRange.filter(r => ids(r.getLong(0))).groupBy(_.getLong(0))
      .map { case (v, rs) => v -> rs.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1) }
    val lut = adcLutFromRows(qs.map(t => (t._1, t._2)), lutCodes)
      .map { case (q, si, j, term) => (q, si, j) -> term }.toMap
    val adc = cands.flatMap { case (q, v) =>
      val terms = enc.getOrElse(v, Array.empty[(Int, Long)])
        .flatMap { case (si, j) => lut.get((q, si, j)) }
      if (terms.isEmpty) None
      else Some((q, v, Some(ExpressionHelpers.round6(terms.foldLeft(0.0)(_ + _)))))
    }
    val shortlist = byQuery(adc, topK * refineFactor)
    val vecs = e.filter(col("vec_id").isin(shortlist.map(_._1._2).distinct: _*))
      .select(col("vec_id"), col("emb"), col("norm")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val qv = qs.map { case (q, qe, qn) => q -> (qe.toArray, qn) }.toMap
    val ansi = SQLConf.get.ansiEnabled
    val cos = for {
      ((q, v, _), _) <- shortlist
      r <- vecs.get(v)
      (qe, qn) <- qv.get(q)
    } yield (q, v, ExpressionHelpers.cosine(
      ExpressionHelpers.denseOrNull(
        if (r.isNullAt(1)) null else new GenericArrayData(r.getSeq[Any](1))),
      r.isNullAt(2), if (r.isNullAt(2)) 0.0 else r.getDouble(2), qe, qn, ansi)
      .map(ExpressionHelpers.round6))
    Some(rankedFrame(e.sparkSession, byQuery(cos, topK), "cos"))
  }

  /** The driver twin of [[topKPerQuery]] and [[RetrievalOps.rankTopK]]:
    * each key's top `k` of `rows` by score desc under Spark's double
    * ordering (null last, NaN first, -0.0 equal to 0.0), ties to the
    * smaller id, each with its 1-based rank, ordered by (key, rank).
    */
  private[operators] def topKRows[T, K](rows: Seq[T], k: Int)(key: T => K,
      id: T => Long, score: T => Option[Double])(implicit ord: Ordering[K]): Seq[(T, Long)] =
    rows.groupBy(key).toSeq.sortBy(_._1).flatMap { case (_, rs) =>
      rs.sortWith { (a, b) =>
        val (sa, sb) = (score(a), score(b))
        val c = ExpressionHelpers.compareScores(sa.isEmpty, sa.getOrElse(0.0),
          sb.isEmpty, sb.getOrElse(0.0))
        c > 0 || (c == 0 && id(a) < id(b))
      }.take(k).zipWithIndex.map { case (r, i) => (r, i + 1L) }
    }

  /** [[topKRows]] over `(q_id, vec_id, score)` rows. */
  private[operators] def byQuery(scored: Seq[(Long, Long, Option[Double])],
      k: Int): Seq[((Long, Long, Option[Double]), Long)] =
    topKRows(scored, k)(_._1, _._2, _._3)

  /** [[byQuery]]'s rows as a local `(q_id, vec_id, rank, <score>)` frame. */
  private[operators] def rankedFrame(s: SparkSession,
      rows: Seq[((Long, Long, Option[Double]), Long)], score: String): DataFrame = {
    import s.implicits._
    rows.map { case ((q, v, sc), rank) => (q, v, rank, sc) }
      .toDF("q_id", "vec_id", "rank", score)
  }

  /** IVF-PQ with the standard REFINE step — the production retrieval
    * quality path (r9 VERDICT item 4): ADC ranks the probed candidates,
    * the top `refineFactor × topK` per query form a shortlist, and ONLY
    * those rows fetch their full-precision vectors (a vec_id equi-join —
    * `shortlist ≤ queries × refineFactor × topK` rows, never the corpus)
    * for an exact-cosine re-rank. This recovers the neighbours ADC's
    * 64×-compressed codes mis-rank while keeping the memory story: the
    * search path touches codes only; full vectors are point-fetched for
    * a bounded shortlist, exactly how a billion-vector store serves from
    * a PQ-resident index with refine-from-disk. Recall floor ≥ 0.7
    * mean / ≥ 0.5 min (the a03/a04 convention) pinned in AnnRecallSpec —
    * measured 0.88/0.80 at sf0.001 vs unrefined IVF-PQ's 0.46/0.30,
    * ABOVE full-precision 2-probe IVF's 0.82 (the bigger shortlist
    * reaches past cell-boundary mistakes the 2-probe search can't).
    * Tuning note from the sweep: shortlist size buys more than probe
    * count here (4 probes × 8·topK = 0.88; 8 probes × 8·topK = 0.84 —
    * extra cells add ADC distractors that crowd the shortlist).
    *
    * Deterministic end-to-end (seeded cells + codebooks, 6-dp rounds
    * before every rank window, vec_id tie-breaks), so the whole
    * composition is oracle-replayable — gate a07.
    */
  def ivfPqKnnRefined(s: SparkSession, dir: String, kCells: Int = 16,
                      nProbes: Int = 4, topK: Int = 10,
                      refineFactor: Int = 8): DataFrame = {
    val e = embTable(s, dir)
    val out = refineAdcShortlist(ivfPqAdcScored(e, kCells, nProbes), e,
      topK, refineFactor)
    e.unpersist(blocking = false)
    out
  }

  /** The refine back half shared with the [[IndexStore]] query path:
    * top `refineFactor × topK` ADC candidates per query point-fetch their
    * full-precision vectors from `e` for an exact-cosine re-rank.
    */
  private[operators] def refineAdcShortlist(scored: DataFrame, e: DataFrame,
      topK: Int, refineFactor: Int): DataFrame = {
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    val shortlist = scored.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= topK * refineFactor)
      .select(col("q_id"), col("vec_id"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("norm").as("q_norm"))
    val rescored = shortlist.join(e, Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", round(
        vecDot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm")), 6))
    topKPerQuery(rescored, "cos", topK).localCheckpoint(true)
  }

  /** a07's full DuckDB replica, parameterized on an extra candidate-side
    * predicate (`candExtra`, ANDed into the cand CTE): the IVF-PQ delete
    * gate (IndexStore a14) needs "rebuild-without-vecs" semantics where
    * ONLY the candidate corpus shrinks — the frozen quantizer/codebooks
    * still derive from the full table, exactly as tombstone deletes leave
    * them on disk.
    */
  private[graft] def ivfPqRefineOracleSql(candExtra: String = ""): String =
    s"""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings),
      n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM e),
      cents AS (SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
                FROM n WHERE vec_id < 16),
      assign AS (SELECT vec_id, c_id FROM (
          SELECT v.vec_id, c.c_id,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY list_dot_product(v.emb, c.c_emb)
                            / (v.norm * c.c_norm) DESC, c.c_id) AS rn
          FROM n v CROSS JOIN cents c) t WHERE rn = 1),
      probes AS (SELECT q_id, c_id FROM (
          SELECT v.vec_id AS q_id, c.c_id,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY list_dot_product(v.emb, c.c_emb)
                            / (v.norm * c.c_norm) DESC, c.c_id) AS rn
          FROM n v CROSS JOIN cents c WHERE v.vec_id < 5) t
        WHERE rn <= 4),
      cand AS (SELECT p.q_id, a.vec_id
               FROM probes p JOIN assign a ON p.c_id = a.c_id
               WHERE a.vec_id >= 5$candExtra),
      g AS (SELECT CAST(unnest(range(8)) AS INT) AS s),
      subs AS (SELECT vec_id, s, emb[s*8+1 : s*8+8] AS xs FROM e CROSS JOIN g),
      cb AS (SELECT vec_id AS j, s, xs AS cs FROM subs WHERE vec_id < 16),
      enc AS (SELECT vec_id, s, cs FROM (
          SELECT sub.vec_id, sub.s, c.cs,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.s
                   ORDER BY list_dot_product(sub.xs, sub.xs)
                            - 2 * list_dot_product(sub.xs, c.cs)
                            + list_dot_product(c.cs, c.cs), c.j) AS rn
          FROM subs sub JOIN cb c ON sub.s = c.s
          WHERE sub.vec_id >= 5) t WHERE rn = 1),
      qsubs AS (SELECT vec_id AS q_id, s, xs AS qs FROM subs WHERE vec_id < 5),
      sc AS (SELECT cand.q_id, cand.vec_id,
               ROUND(SUM(list_dot_product(qsubs.qs, enc.cs)), 6) AS adc
             FROM cand JOIN enc ON cand.vec_id = enc.vec_id
                       JOIN qsubs ON qsubs.q_id = cand.q_id AND qsubs.s = enc.s
             GROUP BY cand.q_id, cand.vec_id),
      shortlist AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY adc DESC, vec_id) AS rn
          FROM sc) t WHERE rn <= 80),
      re AS (SELECT s2.q_id, s2.vec_id,
               ROUND(list_dot_product(v.emb, qv.emb) / (v.norm * qv.norm), 6)
                 AS cos
             FROM shortlist s2
             JOIN n v ON v.vec_id = s2.vec_id
             JOIN n qv ON qv.vec_id = s2.q_id)
      SELECT q_id, vec_id, rank, cos FROM (
        SELECT q_id, vec_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
        FROM re) t
      WHERE rank <= 10 ORDER BY q_id, rank"""

  val a07 = QueryDef(
    "a07_ivfpq_refine",
    "IVF-PQ + exact re-rank of the ADC shortlist (4 probes, 8x refine)",
    (s, dir) => ivfPqKnnRefined(s, dir),
    Some(ivfPqRefineOracleSql()))

  val all: Seq[QueryDef] = Seq(a01, a02, a03, a04, a05, a06, a07)
}

/** The ONE nearest-centroid assignment of the centroid family: IVF
  * candidates (a03/a06/a07), [[AnnOps.kmeansCentroids]], the
  * [[IndexStore]] IVF-PQ builds and DedupOps' d11/d14. Each row
  * `(vec_id, emb, norm, ...)` gets the c_id with the greatest
  * `csim = vec_dot(emb, c_emb) / (norm * c_norm)`, ties to the smallest
  * c_id, under Spark's double ordering: a null csim lowest, NaN highest,
  * -0.0 equal to 0.0 (so a null `emb` gets the smallest c_id). An empty
  * model gives no rows. Output `(vec_id, c_id, carry...)`; the plan is
  * one codegen projection ([[graft.functions.NearestCentroid]]), no
  * exchange, at any k.
  */
private[operators] object CentroidAssign {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import graft.functions.GraftFunctions.nearestCentroid

  /** [[nearestOf]] against `cents` `(c_id, c_emb, c_norm)`, which is
    * COLLECTED EAGERLY when the frame is built: it must be cheap
    * (materialized, a pruned scan, or local), or its lineage replays here.
    */
  def nearest(e: DataFrame, cents: DataFrame,
              carry: Seq[String] = Nil): DataFrame =
    nearestOf(e, AnnOps.collectCents(cents), carry)

  /** [[nearest]] from centroid rows the caller already holds. */
  private[operators] def nearestOf(e: DataFrame,
      rows: Seq[(Long, Seq[Double], Double)],
      carry: Seq[String] = Nil): DataFrame =
    e.filter(lit(rows.nonEmpty)).select(col("vec_id") +:
      nearestCentroid(col("emb"), col("norm"), rows).as("c_id") +:
      carry.map(col): _*)
}
