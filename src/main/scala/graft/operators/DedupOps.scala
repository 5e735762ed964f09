package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.GraftFunctions.vecDot

/** Near-duplicate detection over `documents` — the LLM-training-data dedup
  * family: token-shingle Jaccard self-join, MinHash+LSH banding, SimHash.
  *
  * Design for scale (SURVEY §2.4 J6/J7 are the same algorithm family):
  *  - the all-pairs Jaccard join is an *inverted-index* join (explode
  *    shingles, equi-join on shingle, group by pair) — never a cross join;
  *  - MinHash+LSH replaces the quadratic candidate space with
  *    (band, signature) equi-join buckets, the standard 100-TB path;
  *  - hash functions are md5-based and engine-agnostic, so the DuckDB
  *    oracle replicates them exactly (minhash = lexicographic min of the
  *    salted md5 hex — a valid random permutation family).
  *
  * The shingle self-join applies a document-frequency cap on shingles
  * (stop-shingle pruning, [[shingleDfCap]]): a shingle occurring in more
  * than `cap` documents contributes O(cap^2) join rows on its own — one
  * hot shingle ("click here to") at 100 TB is a quadratic blow-up and a
  * single-reducer skew key. The cap is mirrored verbatim in the DuckDB
  * oracle SQL, so the semantics stay oracle-identical at every scale:
  * pair intersection counts ignore stop-shingles (conservative — shared
  * counts can only shrink), while per-doc set sizes in the Jaccard
  * denominator remain uncapped.
  */
object DedupOps {
  /** Max documents a shingle may appear in before it is pruned from the
    * pair join (d01). 1000 ⇒ worst-case 500k join rows per hot shingle.
    */
  val shingleDfCap = 1000

  /** Degenerate-LSH-bucket guard (round-11 VERDICT "What's missing" #2):
    * an adversarial corpus — thousands of byte-identical docs, or
    * boilerplate so dominant that one band signature captures a constant
    * fraction of the corpus — collapses into ONE (band, sig) bucket, and
    * the band self-join goes quadratic *within the bucket* (the first
    * real incident on boilerplate-heavy crawl data at 100 TB). Every
    * band-join consumer therefore TRUNCATES each bucket to its `cap`
    * lowest doc_ids before candidate generation ([[capBands]]); buckets
    * at or under the cap — every healthy near-dup cluster — are
    * untouched, so the truncation is exactly the identity on the
    * committed corpora (all LSH gates stay hash-green; the rule is
    * mirrored verbatim in the oracle SQL, so it stays oracle-identical
    * even ON pathological data). Semantics past the cap: a bucket larger
    * than `cap` is exact-dup/boilerplate MASS, not a near-dup cluster —
    * the production recipe routes it through exact dedup first
    * ([[nearDupPairsGuarded]], d19), after which representative buckets
    * are small again. 64 bounds a degenerate bucket's pair work at
    * 64²/2 per band while sitting two orders of magnitude above the
    * observed healthy bucket sizes.
    *
    * SPARK_GRAFT_BAND_CAP overrides it FOR MEASUREMENT ONLY (the
    * BENCH_SKEW before/after rehearsal sets it huge to time the
    * unguarded plan on the pathological corpus); both the operators and
    * the oracle SQL read this one val, so the gates stay
    * oracle-consistent under any override. The driver never sets it.
    */
  val bandBucketCap: Int =
    scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BAND_CAP", "64").toInt)
      .toOption.getOrElse(64).max(1)

  /** Truncate every (band, sig) bucket of a [[bandsFromArrs]] frame to
    * its `cap` lowest doc_ids. Fast path: one small aggregate finds the
    * oversized keys; when there are none (healthy corpora) the input is
    * returned untouched — no window shuffle. When some exist, only THEIR
    * rows pass through the rank window (a semi/anti split against the
    * tiny oversized-key set), so the extra shuffle is bounded by the
    * degenerate mass itself, never the corpus.
    */
  private[graft] def capBands(bands: DataFrame,
      cap: Int = bandBucketCap): DataFrame = {
    val over = bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") > cap)
      .select(col("band"), col("sig"))
    val nOver = over.count()
    if (nOver == 0L) bands
    else {
      val ov = broadcastIfUnder(over, nOver)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("sig")).orderBy(col("doc_id"))
      val capped = bands.join(ov, Seq("band", "sig"), "left_semi")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= cap).drop("rn")
      bands.join(ov, Seq("band", "sig"), "left_anti").unionByName(capped)
    }
  }

  /** The SQL twin of [[capBands]] over a `(doc_id, band, sig)` CTE —
    * universal truncation (rank ≤ cap per bucket) is the identity on
    * every at-or-under-cap bucket, so it needs no oversized-key split.
    */
  private[graft] def capBandsSql(src: String, cap: Int = bandBucketCap): String =
    s"""SELECT doc_id, band, sig FROM (
          SELECT doc_id, band, sig,
                 row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
          FROM $src) WHERE rn <= $cap"""

  /** Row cap under which a dimension-like side may be broadcast. Above
    * it the joins here fall back to a shuffle: the guarded sides
    * (per-document shingle counts, benchmark shingles) grow with the
    * corpus, and unconditionally broadcasting a corpus-proportional
    * relation collects billions of rows to the driver at 100 TB — a
    * guaranteed OOM. 1M rows ≈ tens of MB, comfortably broadcastable.
    */
  private[graft] val broadcastRowLimit = 1000000L

  /** Broadcast `df` only when a known row-count bound stays under
    * `limit`; otherwise leave the join strategy to the planner (shuffle
    * join). `rows` must come from an already-materialized/cheap count —
    * never force a scan just to decide the hint.
    */
  private[graft] def broadcastIfUnder(df: DataFrame, rows: Long,
      limit: Long = broadcastRowLimit): DataFrame =
    if (rows <= limit) broadcast(df) else df

  /** Distinct (doc_id, 3-shingle) rows from a `documents`-shaped frame —
    * exploded from [[shingleArrs]]: the per-doc arrays are already
    * distinct SETS, so (doc_id, sh) rows are unique WITHOUT the
    * corpus-sized distinct() shuffle the historical row-form build paid.
    */
  private[graft] def shingles(docs: DataFrame): DataFrame =
    shingleArrs(docs).select(col("doc_id"), explode(col("shArr")).as("sh"))

  /** The ARRAY form of [[shingles]]: one (doc_id, shArr) row per doc with
    * the distinct 3-shingle SET as a column — doc universe = >= 3 tokens.
    * This is the at-scale representation for the MinHash pipeline:
    * signatures become a narrow per-row [[graft.functions.MinhashSig]]
    * projection (NO corpus-sized shingle-row shuffle — neither a
    * distinct() nor the 16-way MIN groupBy of a row form), per-doc set
    * sizes are `size()` calls, and candidate verification is an
    * `array_intersect` on the two rows instead of a double explode-join.
    *
    * The build itself is the codegen'd [[graft.functions.ShingleArr]]
    * expression — one compiled pass per row replacing the interpreted
    * split/transform/concat_ws/array_distinct HOF chain (bit-exact
    * differential: ExpressionsSpec). The `size(split(...))` pre-filter
    * keeps the historical universe rule in codegen'd builtins without
    * evaluating the shingle build in the pushed-down predicate.
    */
  private[graft] def shingleArrs(docs: DataFrame): DataFrame =
    docs.filter(size(split(trim(col("text")), graft.Tok.Ws)) >= 3)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.shingleArr(col("text"), 3).as("shArr"))

  private def shingleDf(s: SparkSession, dir: String): DataFrame =
    shingles(Tables.load(s, dir, "documents"))

  /** DuckDB CTE pair `<p>toks`/`<p>sh` = distinct (doc_id, 3-shingle)
    * rows over any documents-shaped CTE `src` — the SQL twin of
    * [[shingles]], prefixable so several instances can share one WITH.
    */
  private[graft] def shingleSqlFrom(src: String, p: String = ""): String =
    s"""${p}toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
                FROM $src WHERE len(string_split_regex(trim(text), '\\s+')) >= 3),
       ${p}sh AS (SELECT DISTINCT doc_id,
                unnest(list_transform(range(len(toks)-2),
                       i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
              FROM ${p}toks)"""

  private val shingleSql = shingleSqlFrom("documents")

  /** DuckDB CTE chain ending in `<p>pairs` (doc_a, doc_b, jac >= minJac):
    * the SQL twin of [[minhashLshPairs]] over any documents-shaped CTE.
    */
  private[graft] def minhashPairsSql(src: String, minJac: Double,
      p: String): String = {
    val mhs = (0 until 16).map(i =>
      s"MIN(substring(md5('${i / 4}:' || sh), ${1 + 8 * (i % 4)}, 8)) AS mh$i")
      .mkString(", ")
    val bandRows = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS sig FROM ${p}mh")
      .mkString(" UNION ALL ")
    s"""${shingleSqlFrom(src, p)},
      ${p}mh AS (SELECT doc_id, $mhs FROM ${p}sh GROUP BY doc_id),
      ${p}bands AS ($bandRows),
      ${p}bandsc AS (${capBandsSql(s"${p}bands")}),
      ${p}cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM ${p}bandsc a JOIN ${p}bandsc b
                 ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      ${p}cnt AS (SELECT doc_id, COUNT(*) AS n FROM ${p}sh GROUP BY doc_id),
      ${p}allpairs AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, COUNT(*) AS shared
                   FROM ${p}sh sa JOIN ${p}sh sb ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
                   GROUP BY 1, 2),
      ${p}shared AS (SELECT q.doc_a, q.doc_b, q.shared
                 FROM ${p}allpairs q JOIN ${p}cand c ON q.doc_a = c.doc_a AND q.doc_b = c.doc_b),
      ${p}pairs AS (SELECT doc_a, doc_b,
             CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) AS jac
      FROM ${p}shared
      JOIN ${p}cnt ca ON ca.doc_id = doc_a
      JOIN ${p}cnt cb ON cb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= $minJac)"""
  }

  /** N-gram (word 3-shingle) Jaccard similarity self-join via inverted
    * index + size verification (no cross join).
    */
  /** d01 core, parameterized for tests: inverted-index pair join over
    * capped shingles; Jaccard denominator from UNCAPPED per-doc counts.
    */
  private[operators] def ngramJaccardPairs(
      docs: DataFrame, cap: Int = shingleDfCap, minJac: Double = 0.2,
      broadcastLimit: Long = broadcastRowLimit): DataFrame = {
    // the cached representation is the per-doc distinct-shingle ARRAY;
    // the inverted-index rows explode from it as a NARROW map over the
    // cache — the distinct() shuffle the row build paid is now a per-doc
    // array_distinct, and the per-doc set sizes are size() calls instead
    // of a second corpus-wide groupBy over the shingle rows
    val arr = shingleArrs(docs).cache()
    val sh = arr.select(col("doc_id"), explode(col("shArr")).as("sh"))
    // stop-shingle pruning: drop shingles hotter than the df cap BEFORE
    // the self-join (skew guard; mirrored in the oracle SQL below).
    // |hot| < |sh|/cap by construction, so it is almost always
    // broadcastable; when it is empty (healthy corpora at gate SF) the
    // anti-join is skipped entirely — the cap costs one aggregate over
    // the cached arrays, not a full re-shuffle of them.
    val hot = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select(col("sh"))
    // this action doubles as the cache fill: it scans arr exactly once,
    // so the cnt projection and the pair join below read the cached
    // arrays instead of racing to rebuild them (round-6 VERDICT: the
    // separate count-then-count pair was one redundant pass over sh)
    val hotCount = hot.count()
    // cnt has ≤ one row per document: bound its broadcast by the (cheap)
    // document count, NOT unconditionally — at 100 TB the per-doc table
    // is itself billions of rows
    val nDocs = docs.count()
    val cnt = arr.select(col("doc_id"), size(col("shArr")).cast("long").as("n"))
    def cntSide(alias: String) = broadcastIfUnder(cnt, nDocs, broadcastLimit).as(alias)
    val shc =
      if (hotCount == 0) sh
      else if (hotCount < broadcastLimit) sh.join(broadcast(hot), Seq("sh"), "left_anti")
      else sh.join(hot, Seq("sh"), "left_anti")
    val pairs = shc.as("a")
      .join(shc.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(cntSide("ca"), col("doc_a") === col("ca.doc_id"))
      .join(cntSide("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") /
          (col("ca.n") + col("cb.n") - col("shared"))).as("jac"))
      .filter(col("jac") >= minJac)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val d01 = QueryDef(
    "d01_ngram_jaccard",
    "3-shingle Jaccard near-dup pairs (inverted-index self-join)",
    (s, dir) => ngramJaccardPairs(Tables.load(s, dir, "documents")),
    Some(s"""WITH $shingleSql,
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      hot AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > $shingleDfCap),
      shc AS (SELECT s.* FROM sh s ANTI JOIN hot h ON s.sh = h.sh),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
                FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) AS jac
      FROM pairs
      JOIN cnt ca ON ca.doc_id = doc_a
      JOIN cnt cb ON cb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.2
      ORDER BY doc_a, doc_b"""))

  /** MinHash (16 hashes = 4 salted md5s x 4 8-hex-char slices) + LSH
    * banding (8 bands x 2 rows) + exact Jaccard verification.
    *
    * The 16 minhashes come from ONE codegen'd pass over each doc's
    * distinct-shingle array ([[graft.functions.MinhashSig]]) — a narrow
    * projection with NO shuffle at all (the earlier row form shuffled
    * every shingle row through a 16-way MIN groupBy). At 100 TB the only
    * corpus-sized shuffle left in the near-dup plan is the 8-rows-per-doc
    * band equi-join.
    */
  /** (doc_id, band, sig) LSH band rows from the ARRAY representation:
    * the 16 minhashes come from one codegen'd [[graft.functions.MinhashSig]]
    * pass per doc (identical values to [[bandSignatures]]'s 16 MIN
    * aggregates — same per-shingle hash windows, same byte-order min),
    * banded 8x2 by the same md5(mh2b || '|' || mh2b+1) convention. The
    * explode multiplies rows by 8 (bands), not by shingle count.
    */
  private[graft] def bandsFromArrs(arr: DataFrame): DataFrame = {
    val sig = arr.select(col("doc_id"),
      graft.functions.GraftFunctions.minhashSig(col("shArr")).as("mhs"))
    val bandCols = (0 until 8).map(b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", element_at(col("mhs"), 2 * b + 1),
          element_at(col("mhs"), 2 * b + 2)).cast("binary")).as("sig")))
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** [[minhashLshPairs]] over the PRECOMPUTED array representation
    * ([[shingleArrs]]; must be cached/materialized by the caller). The
    * only corpus-sized shuffle left in the plan is the band equi-join's
    * (8 rows/doc); verification joins the candidate pair ids back to the
    * array rows and computes Jaccard from ONE `array_intersect` per
    * candidate — |intersection| over distinct sets is exactly the
    * shared-shingle count the row form aggregated.
    */
  private[graft] def minhashLshPairsFromArrs(
      arr: DataFrame, minJac: Double = 0.3,
      cap: Int = bandBucketCap): DataFrame = {
    val bands = capBands(bandsFromArrs(arr), cap)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(arr.select(col("doc_id").as("doc_a"), col("shArr").as("sa")),
        Seq("doc_a"))
      .join(arr.select(col("doc_id").as("doc_b"), col("shArr").as("sb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("double").as("inter"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      // inter > 0 mirrors the shared-shingle inner join this replaced (and
      // the DuckDB oracle): a band collision with ZERO common shingles must
      // not surface as a jac=0 pair when a caller passes minJac <= 0
      .filter(col("inter") > 0)
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jac"))
      .filter(col("jac") >= minJac)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** d02 core, parameterized for tests and plan assertions. */
  private[graft] def minhashLshPairs(
      docs: DataFrame, minJac: Double = 0.3): DataFrame = {
    val arr = shingleArrs(docs).cache()
    arr.count() // single cache fill (see d01)
    minhashLshPairsFromArrs(arr, minJac)
  }


  val d02 = QueryDef(
    "d02_minhash_lsh",
    "MinHash+LSH banded near-dup candidates + Jaccard verify",
    (s, dir) => minhashLshPairs(Tables.load(s, dir, "documents")),
    Some(s"""WITH ${minhashPairsSql("documents", 0.3, "")}
      SELECT doc_a, doc_b, jac FROM pairs ORDER BY doc_a, doc_b"""))

  /** 16-bit SimHash over the distinct-token set: bit b's sign comes from
    * hex digit b of md5(token) (one hash per token, no per-bit fan-out —
    * at scale this is a single groupBy(doc) with 16 conditional partial
    * sums, i.e. one map-side-combined shuffle of 16 ints per doc).
    */
  val d03 = QueryDef(
    "d03_simhash",
    "16-bit SimHash signature per document",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val toks = d
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(split(trim(col("text")), graft.Tok.Ws)).as("tok"))
        .distinct()
        .withColumn("h", md5(col("tok").cast("binary")))
      val sumCols = (0 until 16).map(b =>
        sum(when(substring(col("h"), b + 1, 1) < "8", 1).otherwise(-1)).as(s"s$b"))
      toks.groupBy(col("doc_id"))
        .agg(sumCols.head, sumCols.tail: _*)
        .select(col("doc_id"),
          concat((0 until 16).map(b =>
            when(col(s"s$b") >= 0, "1").otherwise("0")): _*).as("simhash"))
        .orderBy(col("doc_id"))
    },
    Some {
      val bits = (0 until 16).map(b =>
        s"CASE WHEN SUM(CASE WHEN substring(h, ${b + 1}, 1) < '8' THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"""WITH toks AS (SELECT DISTINCT doc_id,
              unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents WHERE length(trim(text)) > 0),
        hashed AS (SELECT doc_id, md5(tok) AS h FROM toks)
        SELECT doc_id, $bits AS simhash FROM hashed GROUP BY doc_id ORDER BY doc_id"""
    })

  /** Embedding-cosine near-duplicate pairs: random-hyperplane LSH banding
    * (4 bands x 4 planes, the cosine analogue of d02's MinHash bands)
    * prunes the quadratic pair space to same-(band,signature) candidates,
    * then exact cosine verifies. The (plane x dim) sign matrix is a
    * driver-side constant inlined as a literal (one multiply-add per
    * element on executors, same trick as a02); the dot product is a
    * sequential fold so scores are bit-deterministic.
    *
    * The 0.35 threshold is tuned to the synthetic corpus (max pair cosine
    * ~0.51 — no true dups); a production text-dedup run would use ~0.9,
    * which only shrinks the verify stage.
    */
  /** d04 core over an arbitrary `(vec_id, embedding float[])` frame:
    * `nBands`×`perBand` hyperplane-LSH banding → same-(band, sig)
    * candidates → exact cosine verify at `minSim`. Factored so the
    * hostile-corpus recipe ([[d20]]) can run it over the post-collapse
    * representative set — the d19 pattern on the embedding side.
    *
    * The gate pins the 4×4 default; `perBand` is the HEALTHY-corpus
    * scale knob: a `perBand`-bit signature has 2^perBand buckets per
    * band, so expected bucket occupancy is N/2^perBand and the band
    * self-join's pair work is Θ(nBands · N²/2^perBand) — at growing N,
    * widen perBand ≈ log2(N / target_bucket) to hold bucket sizes flat
    * (recall per band drops, so nBands rises with it: the standard
    * LSH band/width trade — BENCH_BANDS.json carries the measured
    * curve on the committed corpus plus the theory cross-check:
    * per-band collision is (1 − acos(s)/π)^perBand, so wide bands pay
    * off exactly when the threshold is high, the production text-dedup
    * regime). Widening over the SAME plane sequence only ever SHRINKS
    * the candidate set (a 2×8 band match requires two adjacent 4-bit
    * matches), which DedupOpsSpec pins.
    */
  private[graft] def embBandPairs(raw: DataFrame,
      minSim: Double = 0.35, nBands: Int = 4, perBand: Int = 4): DataFrame = {
      def sign(p: Int, d: Int): Double = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${p}_$d".getBytes("UTF-8"))
        if (((hex(0) >> 4) & 0xf) < 8) 1.0 else -1.0
      }
      val e = raw
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x AS double))").as("emb"))
        .withColumn("norm", sqrt(vecDot(col("emb"), col("emb"))))
        .cache()
      e.count() // single cache fill: bands + both verify sides reuse it
      // sign-matrix width from the data, not a hardcoded cap (see a02)
      val maxDim = e.select(size(col("emb"))).take(1) // empty table → 0-dim
        .headOption.map(_.getInt(0)).getOrElse(0)
      def bitCol(p: Int) = {
        val row = typedlit((0 until maxDim).map(d => sign(p, d)))
        // vec_dot requires equal lengths (HOF-null semantics); sign row
        // width == data width by the fixed-width embedding contract
        val proj = vecDot(col("emb"), row)
        when(proj >= 0, "1").otherwise("0")
      }
      val bandCols = (0 until nBands).map(b =>
        struct(lit(b).as("band"),
          concat((0 until perBand).map(i => bitCol(b * perBand + i)): _*).as("sig")))
      val bands = e.select(col("vec_id"),
          explode(array(bandCols: _*)).as("bs"))
        .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      cand
        .join(e.as("na"), col("vec_a") === col("na.vec_id"))
        .join(e.as("nb"), col("vec_b") === col("nb.vec_id"))
        .select(col("vec_a"), col("vec_b"),
          (vecDot(col("na.emb"), col("nb.emb"))
            / (col("na.norm") * col("nb.norm"))).as("sim"))
        .filter(col("sim") >= minSim)
        .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The SQL twin of [[embBandPairs]] as a CTE chain over `src` (a table
    * or CTE with d04's embedding shape); CTEs are `$prefix`-namespaced,
    * final pair set (vec_a, vec_b, sim — UNORDERED) is `${prefix}epairs`.
    */
  private[graft] def embPairsSql(src: String, minSim: Double = 0.35,
      prefix: String = "", nBands: Int = 4, perBand: Int = 4): String = {
      val p = prefix
      def plane(pl: Int) =
        s"""CASE WHEN list_sum(list_transform(range(len(emb)), d ->
            CASE WHEN substring(md5('$pl' || '_' || CAST(d AS VARCHAR)), 1, 1) < '8'
                 THEN emb[d + 1] ELSE -emb[d + 1] END)) >= 0 THEN '1' ELSE '0' END"""
      val bandRows = (0 until nBands).map(b =>
        s"SELECT vec_id, $b AS band, ${(0 until perBand).map(i => plane(b * perBand + i)).mkString(" || ")} AS sig FROM ${p}e")
        .mkString(" UNION ALL ")
      s"""${p}e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM $src),
        ${p}bands AS ($bandRows),
        ${p}cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                 FROM ${p}bands a JOIN ${p}bands b
                   ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
        ${p}n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM ${p}e),
        ${p}epairs AS (SELECT vec_a, vec_b,
               list_dot_product(na.emb, nb.emb) / (na.norm * nb.norm) AS sim
        FROM ${p}cand
        JOIN ${p}n na ON na.vec_id = vec_a
        JOIN ${p}n nb ON nb.vec_id = vec_b
        WHERE list_dot_product(na.emb, nb.emb) / (na.norm * nb.norm) >= $minSim)"""
  }

  val d04 = QueryDef(
    "d04_embed_dup",
    "embedding-cosine near-dup pairs via hyperplane-LSH banding + verify",
    (s, dir) => embBandPairs(Tables.load(s, dir, "embeddings")),
    Some(s"""WITH ${embPairsSql("embeddings")}
        SELECT vec_a, vec_b, sim FROM epairs ORDER BY vec_a, vec_b"""))

  /** Benchmark-contamination check: which corpus documents share word
    * 3-shingles with a held-out benchmark set (here: the deterministic
    * doc_id % 97 == 0 slice standing in for an eval suite). The shape that
    * matters at 100 TB: the benchmark side is tiny (an eval suite is KBs
    * to MBs) and is explicitly broadcast, so the petabyte corpus side
    * streams through a map-side hash join — corpus shingles are never
    * shuffled; the only shuffle is the final (doc, bench) pair count,
    * whose cardinality is bounded by matches, not corpus size.
    */
  /** d05 core: the benchmark side is broadcast ONLY under the size
    * contract (an eval suite is KBs–MBs); a corpus-proportional
    * "benchmark" falls back to a shuffle join instead of shipping ~1 TB
    * of shingles to every executor. The bench shingles are cached so the
    * contract count does not recompute them.
    */
  private[graft] def contaminationPairs(sh: DataFrame, benchMod: Long = 97L,
      broadcastLimit: Long = broadcastRowLimit): DataFrame = {
    val bench = sh.filter(pmod(col("doc_id"), lit(benchMod)) === 0)
      .withColumnRenamed("doc_id", "bench_id").cache()
    val nBench = bench.count() // fills the cache AND enforces the contract
    val corp = sh.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
    corp.join(broadcastIfUnder(bench, nBench, broadcastLimit), Seq("sh"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** [[contaminationPairs]] over the PRECOMPUTED array representation
    * ([[shingleArrs]], cached by the caller): both sides explode narrowly
    * from the one cached scan — per-doc `array_distinct` already holds,
    * so no (doc_id, sh) distinct shuffle exists anywhere in the plan; the
    * only shuffle left is the final match-bounded pair count.
    */
  private[graft] def contaminationPairsArr(arr: DataFrame, benchMod: Long = 97L,
      broadcastLimit: Long = broadcastRowLimit): DataFrame = {
    val isBench = pmod(col("doc_id"), lit(benchMod)) === 0
    val bench = arr.filter(isBench)
      .select(col("doc_id").as("bench_id"), explode(col("shArr")).as("sh"))
    // size contract from the cached array rows (no explode needed)
    val nBench = arr.filter(isBench)
      .agg(coalesce(sum(size(col("shArr"))), lit(0L))).head().getLong(0)
    val corp = arr.filter(!isBench)
      .select(col("doc_id"), explode(col("shArr")).as("sh"))
    corp.join(broadcastIfUnder(bench, nBench, broadcastLimit), Seq("sh"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  val d05 = QueryDef(
    "d05_contamination",
    "benchmark-contamination: shared 3-shingle counts vs held-out set",
    (s, dir) => {
      val arr = shingleArrs(Tables.load(s, dir, "documents")).cache()
      arr.count() // single cache fill (see d01)
      contaminationPairsArr(arr)
    },
    Some(s"""WITH $shingleSql,
        bench AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id % 97 = 0),
        corp AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0)
      SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared
      FROM corp c JOIN bench b USING (sh)
      GROUP BY 1, 2 ORDER BY doc_id, bench_id"""))

  /** d07 core: decontamination with a Bloom-filter PRE-filter — the shape
    * for when even the eval-suite shingle set outgrows the broadcast row
    * contract that [[contaminationPairs]] relies on. The filter is built
    * DISTRIBUTED (`stat.bloomFilter` tree-aggregates per-partition bit
    * vectors) over `xxhash64(sh)` of the benchmark side, and only its
    * BITS ship to executors (~1.2 MB per 1M keys at 1% fpp vs tens of MB
    * of raw shingle strings). The corpus side then drops every shingle
    * the filter rules out BEFORE any join: in the shuffle-fallback case
    * this cuts the shuffled corpus volume from |corpus shingles| to
    * ~|true matches| + fpp·|corpus shingles|. The exact join afterwards
    * removes Bloom false positives, so the result — and the DuckDB
    * oracle — is identical to [[contaminationPairs]] bit for bit.
    *
    * Probe cost is one codegen'd hash + bit-test per row
    * ([[graft.functions.BloomMightContain]]); the verify join still
    * broadcasts the bench side under the size contract, so at gate SF the
    * plan is d05's plan plus a map-side filter.
    */
  private[graft] def contaminationPairsBloom(sh: DataFrame, benchMod: Long = 97L,
      fpp: Double = 0.01, broadcastLimit: Long = broadcastRowLimit): DataFrame = {
    val bench = sh.filter(pmod(col("doc_id"), lit(benchMod)) === 0)
      .withColumnRenamed("doc_id", "bench_id").cache()
    val nBench = bench.count() // fills the cache AND enforces the contract
    val bf = bench.select(xxhash64(col("sh")).as("h"))
      .stat.bloomFilter("h", math.max(nBench, 1L), fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val corp = sh.filter(pmod(col("doc_id"), lit(benchMod)) =!= 0)
      .filter(graft.functions.GraftFunctions.bloomMightContain(
        xxhash64(col("sh")), bytes))
    corp.join(broadcastIfUnder(bench, nBench, broadcastLimit), Seq("sh"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** [[contaminationPairsBloom]] over the cached array representation:
    * the Bloom build, the broadcast build, and the corpus probe side all
    * explode narrowly from ONE cached [[shingleArrs]] scan (the r8 bench
    * recomputed the full shingle distinct for the corpus side).
    */
  private[graft] def contaminationPairsBloomArr(arr: DataFrame,
      benchMod: Long = 97L, fpp: Double = 0.01,
      broadcastLimit: Long = broadcastRowLimit): DataFrame = {
    val isBench = pmod(col("doc_id"), lit(benchMod)) === 0
    val bench = arr.filter(isBench)
      .select(col("doc_id").as("bench_id"), explode(col("shArr")).as("sh"))
    val nBench = arr.filter(isBench)
      .agg(coalesce(sum(size(col("shArr"))), lit(0L))).head().getLong(0)
    val bf = bench.select(xxhash64(col("sh")).as("h"))
      .stat.bloomFilter("h", math.max(nBench, 1L), fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val corp = arr.filter(!isBench)
      .select(col("doc_id"), explode(col("shArr")).as("sh"))
      .filter(graft.functions.GraftFunctions.bloomMightContain(
        xxhash64(col("sh")), bytes))
    corp.join(broadcastIfUnder(bench, nBench, broadcastLimit), Seq("sh"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** Same oracle as d05 — the exact verify join makes the Bloom path
    * false-positive-free, so both compute the identical relation.
    */
  val d07 = QueryDef(
    "d07_bloom_decontam",
    "decontamination via distributed Bloom prefilter + exact verify",
    (s, dir) => {
      val arr = shingleArrs(Tables.load(s, dir, "documents")).cache()
      arr.count() // single cache fill (see d01)
      contaminationPairsBloomArr(arr)
    },
    d05.oracle)

  /** d08 core: INCREMENTAL dedup — admit the subset of an incoming batch
    * that is not a near-duplicate of the existing corpus. This is the
    * continuous-ingestion shape d02's self-join doesn't cover: a training
    * pipeline re-crawls daily, and re-deduping the full corpus per batch
    * is O(corpus) work per day when O(batch) suffices.
    *
    * Bipartite LSH: band signatures for both sides, candidates from a
    * (band, sig) equi-join of NEW against EXISTING only — no new><new or
    * old><old pairs (within-batch dedup stays d02's job, and the output
    * pins that: two incoming docs duplicating each other are BOTH
    * admitted). Verification is candidate-driven exact Jaccard, as in
    * d02. Output = admitted incoming doc_ids (left_anti on verified
    * matches).
    *
    * At scale: the existing side's signatures would be a precomputed
    * index (they are deterministic column functions of the text — compute
    * once at admission, store (doc_id, band, sig)); then per-batch cost is
    * |batch| signature rows shuffled against the index, never a corpus
    * rescan. Here both sides derive from one `documents` table split by
    * `doc_id % batchMod == 0` so the DuckDB oracle can replay the whole
    * chain. The batch side is broadcast under the size contract — a
    * normal ingestion batch is orders of magnitude smaller than the
    * corpus — with the usual shuffle fallback above it.
    */
  /** Bipartite admit core shared by d08 and the streaming st09 gate:
    * (band, sig) equi-join candidates of NEW against OLD only,
    * candidate-driven exact-Jaccard verify, left-anti admit. `newIds` is
    * the full incoming id set (docs too short to shingle admit
    * trivially); `nNew` bounds the batch-side broadcasts; `newArr` /
    * `oldArr` are [[shingleArrs]] frames (the old side is the
    * precomputed corpus index — st09 caches it once across every
    * micro-batch). `oldBandsPre`: the PRECOMPUTED (doc_id, band, sig)
    * index of the old side — a continuous-ingest caller (st09) caches
    * this beside `oldArr`, or every micro-batch would replay the
    * corpus-sized minhash projection just to rebuild the same band rows;
    * `oldArr` itself still backs the exact-Jaccard verify (its probe is
    * candidate-bounded, so the cached arrays ARE the index there).
    */
  private[graft] def admitNewAgainstOld(newIds: DataFrame, nNew: Long,
      newArr: DataFrame, oldArr: DataFrame, minJac: Double = 0.3,
      broadcastLimit: Long = broadcastRowLimit,
      oldBandsPre: Option[DataFrame] = None): DataFrame = {
    val newBands = bandsFromArrs(newArr)
    // [[capBands]] on the CORPUS side only: a degenerate old bucket would
    // otherwise multiply every colliding batch doc by the whole bucket.
    // Capping by the static side keeps the admit decision micro-batch-
    // partitioning INVARIANT (the st09 contract — a cap depending on the
    // batch's own rows would make results split-dependent). A pre-built
    // index (`oldBandsPre`) must already be capped — st09 and
    // StreamBatchBench cache `capBands(bandsFromArrs(oldArr))`.
    val oldBands = oldBandsPre.getOrElse(capBands(bandsFromArrs(oldArr)))
    val cand = broadcastIfUnder(newBands, nNew * 8, broadcastLimit).as("a")
      .join(oldBands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .distinct()
    // candidate-driven verify (see minhashLshPairsFromArrs): one
    // array_intersect per candidate, work linear in |cand|, never the
    // bipartite all-pairs product
    val matched = cand
      .join(newArr.select(col("doc_id").as("new_id"), col("shArr").as("sa")),
        Seq("new_id"))
      .join(oldArr.select(col("doc_id").as("old_id"), col("shArr").as("sb")),
        Seq("old_id"))
      .select(col("new_id"),
        size(array_intersect(col("sa"), col("sb"))).cast("double").as("inter"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      // inter > 0: same minJac<=0 boundary guard as minhashLshPairsFromArrs
      .filter(col("inter") > 0 &&
        col("inter") / (col("na") + col("nb") - col("inter")) >= minJac)
      .select(col("new_id")).distinct()
    newIds.join(matched, col("doc_id") === col("new_id"), "left_anti")
  }

  private[graft] def incrementalDedupAdmit(docs: DataFrame, batchMod: Long = 3L,
      minJac: Double = 0.3, broadcastLimit: Long = broadcastRowLimit): DataFrame = {
    val isNew = pmod(col("doc_id"), lit(batchMod)) === 0
    val arr = shingleArrs(docs).cache()
    arr.count() // single cache fill (see d01)
    val nNew = docs.filter(isNew).count() // bounds the batch-side broadcasts
    admitNewAgainstOld(docs.filter(isNew).select(col("doc_id")).distinct(),
      nNew, arr.filter(isNew), arr.filter(!isNew), minJac, broadcastLimit)
      .orderBy(col("doc_id"))
  }

  val d08 = QueryDef(
    "d08_incremental_dedup",
    "incremental ingestion dedup: admit batch docs with no near-dup in the corpus",
    (s, dir) => incrementalDedupAdmit(Tables.load(s, dir, "documents")),
    Some {
      val mhs = (0 until 16).map(i =>
        s"MIN(substring(md5('${i / 4}:' || sh), ${1 + 8 * (i % 4)}, 8)) AS mh$i")
        .mkString(", ")
      val bandRows = (0 until 8).map(b =>
        s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS sig FROM mh")
        .mkString(" UNION ALL ")
      s"""WITH ${shingleSqlFrom("documents")},
        mh AS (SELECT doc_id, $mhs FROM sh GROUP BY doc_id),
        bands AS ($bandRows),
        oldb AS (${capBandsSql("(SELECT * FROM bands WHERE doc_id % 3 <> 0)")}),
        cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
                 FROM bands a JOIN oldb b
                   ON a.band = b.band AND a.sig = b.sig
                 WHERE a.doc_id % 3 = 0),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        shared AS (SELECT c.new_id, c.old_id, COUNT(*) AS shared
                   FROM cand c
                   JOIN sh sa ON sa.doc_id = c.new_id
                   JOIN sh sb ON sb.doc_id = c.old_id AND sb.sh = sa.sh
                   GROUP BY 1, 2),
        matched AS (SELECT DISTINCT s.new_id FROM shared s
                    JOIN cnt ca ON ca.doc_id = s.new_id
                    JOIN cnt cb ON cb.doc_id = s.old_id
                    WHERE CAST(s.shared AS DOUBLE) / (ca.n + cb.n - s.shared) >= 0.3)
        SELECT d.doc_id
        FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 3 = 0) d
        ANTI JOIN matched m ON m.new_id = d.doc_id
        ORDER BY doc_id"""
    })

  /** d09 core: duplicated-SPAN detection — the exact-substring signal the
    * doc-level family (d01/d02: "are these documents near-dups?") cannot
    * give: "how much of THIS document is text copied across documents?"
    * (boilerplate, licenses, templated headers — the per-span shape of
    * training-data dedup, vs d01/d02's per-document shape). Every
    * 8-token sliding window (stride 1) is hashed; a span is duplicated
    * when its hash occurs in >= 2 DISTINCT documents (within-doc
    * repetition stays t09's job); the output is each doc's duplicated
    * fraction.
    *
    * Scale shape: windows are |tokens| rows (linear, not quadratic — the
    * window explode multiplies rows, not pairs), shuffled ONCE keyed by
    * span hash (the inverted-index shape); the per-doc rollup is a
    * second keyed aggregation. The dup-span set is left to the planner:
    * it is match-bounded, usually tiny, and AQE broadcasts it when it
    * is. The final fraction is one double division of exact integers —
    * bit-identical in DuckDB.
    */
  private[graft] def duplicatedSpans(docs: DataFrame, winTok: Int = 8): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(trim(col("text")), graft.Tok.Ws).as("toks"))
      .filter(size(col("toks")) >= winTok)
    val wins = toks.select(col("doc_id"), explode(expr(
      s"""transform(sequence(0, size(toks)-$winTok),
          s -> md5(cast(concat_ws(' ', slice(toks, s+1, $winTok)) as binary)))"""))
      .as("h"))
    val dup = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"), lit(1L).as("isdup"))
    wins.join(dup, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_windows")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val d09 = QueryDef(
    "d09_dup_spans",
    "per-doc duplicated-span fraction (8-token windows shared across docs)",
    (s, dir) => duplicatedSpans(Tables.load(s, dir, "documents")),
    Some("""WITH t AS (SELECT doc_id,
              string_split_regex(trim(text), '\s+') AS toks
            FROM documents
            WHERE len(string_split_regex(trim(text), '\s+')) >= 8),
      wins AS (SELECT doc_id,
                 md5(array_to_string(toks[s+1:s+8], ' ')) AS h
               FROM (SELECT doc_id, toks, unnest(range(len(toks)-7)) AS s
                     FROM t) u),
      dup AS (SELECT h FROM wins GROUP BY h
              HAVING COUNT(DISTINCT doc_id) >= 2),
      fl AS (SELECT w.doc_id,
               CASE WHEN d.h IS NULL THEN 0 ELSE 1 END AS isdup
             FROM wins w LEFT JOIN dup d ON d.h = w.h)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(SUM(isdup) AS BIGINT) AS n_dup,
             CAST(SUM(isdup) AS DOUBLE) / COUNT(*) AS dup_frac
      FROM fl GROUP BY doc_id ORDER BY doc_id"""))

  /** Near-dup RESOLUTION — the step after pair detection that an actual
    * dedup run needs: transitive closure over the d02 pair set (connected
    * components), canonical id = min doc_id of the cluster, and a total
    * (doc_id -> canonical_id) map (unpaired docs map to themselves). The
    * keep-list is `doc_id == canonical_id`; everything else drops.
    *
    * Scale shape: pairs come from the LSH join (never quadratic), the
    * closure is [[graft.graph.GraphAlgs.connectedComponents]] over
    * |pairs| edges (a driver union-find up to its driver limit, GraphX
    * CC's log-ish rounds of bounded shuffles above it), and the final map
    * is one left join against the corpus keyed by doc_id. The oracle replays the same minhash chain in SQL
    * and closes it with the recursive min-label CTE used by g03.
    */
  /** d06 core, reused by d13 and d16: the total (doc_id → canonical_id)
    * map from the LSH pair set's transitive closure (unpaired docs map to
    * themselves).
    */
  private[graft] def canonicalMap(docs: DataFrame): DataFrame = {
    val pairs = minhashLshPairs(docs).select(col("doc_a"), col("doc_b"))
    val comp = graft.graph.GraphAlgs.connectedComponents(pairs, "doc_a", "doc_b")
    docs.select(col("doc_id")).distinct()
      .join(comp, col("doc_id") === col("node_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"))
  }

  /** DuckDB replay of [[canonicalMap]] (d06's oracle body, shared with
    * d13/d16): CTE prologue defining `comp(node, canonical)`, plus the
    * canonical-id expression to select from the `d LEFT JOIN comp c`
    * closing join.
    */
  private[graft] val canonicalMapSqlCtes: String =
    s"""WITH RECURSIVE ${minhashPairsSql("documents", 0.3, "")},
      und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
      walk(node, lbl) AS (
        SELECT a, a AS lbl FROM (SELECT DISTINCT a FROM und)
        UNION
        SELECT u.b AS node, w.lbl FROM walk w JOIN und u ON u.a = w.node
        WHERE w.lbl < u.b),
      comp AS (SELECT node, MIN(lbl) AS canonical FROM walk GROUP BY node)"""

  private[graft] val canonicalIdSql: String =
    "COALESCE(c.canonical, d.doc_id)"

  val d06 = QueryDef(
    "d06_dedup_resolve",
    "near-dup clusters -> canonical doc map (LSH pairs + transitive closure)",
    (s, dir) => canonicalMap(Tables.load(s, dir, "documents"))
      .orderBy(col("doc_id")),
    Some(s"""$canonicalMapSqlCtes
      SELECT d.doc_id, $canonicalIdSql AS canonical_id
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN comp c ON d.doc_id = c.node
      ORDER BY doc_id"""))

  /** The declarative twin of [[graft.sim.SimilarityJoin.join]] (SURVEY
    * §4.3 item 4; reference semantics `cpe_product.ipynb c13:8-13`): the
    * user writes the natural `crossJoin.filter(jaccard_sim >= t)` and
    * [[graft.functions.SimilarityJoinRewrite]] (injected by
    * GraftFunctions.register) turns it into the inverted-index token
    * equi-join automatically — Spark's own planner would pick a
    * CartesianProduct, the O(|L|·|R|) scale-killer (PlanSpec's
    * product-join sweep covers this gate, so the rewrite firing is
    * load-bearing, not decorative). Token sets are each document's first
    * 8 whitespace tokens; the left side is sampled so the pair count
    * stays output-bounded at any SF. Output is integer ids only —
    * hash-exact; both engines compare small-int ratio divisions, which
    * IEEE-round identically.
    */
  val d10 = QueryDef(
    "d10_sim_join_declarative",
    "crossJoin+jaccard_sim threshold auto-rewritten to an inverted-index join",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.load(s, dir, "documents")
      def prefixToks = slice(split(trim(col("text")), graft.Tok.Ws), 1, 8)
      val l = docs.filter(col("doc_id") % 41 === 0)
        .select(col("doc_id").as("l_id"), prefixToks.as("l_toks"))
      val r = docs.select(col("doc_id").as("r_id"), prefixToks.as("r_toks"))
      l.crossJoin(r)
        .filter(graft.functions.GraftFunctions
          .jaccardSim(col("l_toks"), col("r_toks")) >= lit(0.5) &&
          col("l_id") =!= col("r_id"))
        .select(col("l_id"), col("r_id"))
        .orderBy(col("l_id"), col("r_id"))
    },
    Some("""WITH l AS (SELECT doc_id AS l_id,
              list_distinct(string_split_regex(trim(text), '\s+')[1:8]) AS lt
            FROM documents WHERE doc_id % 41 = 0),
      r AS (SELECT doc_id AS r_id,
              list_distinct(string_split_regex(trim(text), '\s+')[1:8]) AS rt
            FROM documents)
      SELECT l_id, r_id FROM l, r
      WHERE l_id <> r_id
        AND len(list_intersect(lt, rt)) * 1.0 /
            (len(lt) + len(rt) - len(list_intersect(lt, rt))) >= 0.5
      ORDER BY l_id, r_id"""))

  /** SemDeDup-style semantic deduplication: coarse-cluster the embedding
    * space, then drop within-cluster cosine near-duplicates (keep the
    * smallest vec_id of each qualifying pair). The clustering bounds the
    * pairwise work to Σ|cluster|² instead of N² — the published recipe for
    * embedding dedup at corpus scale, and a different scale shape from
    * [[d04]]'s hyperplane-LSH banding (centroid cells vs random-projection
    * buckets).
    *
    * Gate convention: the 16 seeded centroids of a03 (`vec_id < 16`) and
    * the corpus's 0.35 cosine near-dup threshold (d04). In production k
    * grows ~√N (spark.ml KMeans — see [[graft.operators.AnnOps
    * .ivfKnnTrained]] for the trained-quantizer path), keeping expected
    * cluster sizes bounded, and the centroids stay a small literal by
    * definition (k ≪ corpus): assignment is one narrow projection
    * ([[CentroidAssign]]); the pairwise stage shuffles on `c_id` only.
    * Cosine values are bit-identical across engines (sequential-fold
    * `vec_dot` ≡ DuckDB `list_dot_product`, the d04 argument), so the
    * ≥-threshold boundary is exact, and the output carries no floats.
    */
  /** Shared SemDeDup core: assign every vector to its nearest centroid in
    * `cents` (`c_id, c_emb, c_norm` — broadcast, k ≪ corpus by
    * definition), then drop the larger vec_id of every within-cluster
    * pair at or above `tau` cosine.
    */
  /** Nearest-centroid argmax assignment (broadcast centroid side, ties to
    * the smallest c_id), carrying emb+norm for pairwise consumers — the
    * family-wide [[CentroidAssign]] convention shared with the AnnOps IVF
    * gates, so the d11/d14 and a03/a06/a07 assignments cannot drift.
    */
  private def assignToCentroids(e: DataFrame, cents: DataFrame): DataFrame =
    CentroidAssign.nearest(e, cents, carry = Seq("emb", "norm"))

  /** Norm-decorated, cached-and-filled embedding frame (single fill:
    * seeds + assignment both read it) — shared prep for the centroid
    * family; the seed convention lives in [[seedCents]].
    */
  private def normedCached(emb: DataFrame): DataFrame = {
    val e = emb
      .withColumn("norm", sqrt(vecDot(col("emb"), col("emb"))))
      .cache()
    e.count()
    e
  }

  /** The kSeeds smallest PRESENT vec_ids as seed centroids
    * (TakeOrderedAndProject, no full sort) — NOT a literal
    * `vec_id < kSeeds`: an offset or filtered id space (sharded corpora,
    * upstream-filter survivors) would find few or zero seeds and the
    * assignment would silently produce no rows (the kmeansCentroids r10
    * finding, same fix). Identical whenever ids are dense from 0; the
    * d11/d14/t23 oracles replay it as `ORDER BY vec_id LIMIT 16`.
    */
  private def seedCents(e: DataFrame, kSeeds: Int): DataFrame =
    e.orderBy(col("vec_id")).limit(kSeeds)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"),
        col("norm").as("c_norm"))

  private def semanticDedupCore(e: DataFrame, cents: DataFrame,
                                tau: Double,
                                release: Seq[DataFrame] = Nil): DataFrame = {
    val assign = assignToCentroids(e, cents)
      .cache() // consumed 3x: both self-join sides + the kept/dropped list
    val drops = assign.as("a")
      .join(assign.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.vec_id") < col("b.vec_id"))
      .filter(vecDot(col("a.emb"), col("b.emb"))
        / (col("a.norm") * col("b.norm")) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    // Materialize the (small) verdict frame, then free every cached
    // intermediate — the session-lifetime cache-accumulation fix (r9
    // ADVICE): callers in a long-lived session no longer hold assign /
    // the norm'd corpus / trained centroids in the cache manager.
    val out = assign.select(col("vec_id"), col("c_id"))
      .join(drops.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"),
        coalesce(col("hit"), lit(false)).as("dropped"))
      .orderBy(col("vec_id"))
      .localCheckpoint(true)
    (assign +: release).foreach(_.unpersist(blocking = false))
    out
  }

  def semanticDedup(emb: DataFrame, kSeeds: Int = 16,
                    tau: Double = 0.35): DataFrame = {
    val e = normedCached(emb)
    semanticDedupCore(e, seedCents(e, kSeeds), tau, release = Seq(e))
  }

  /** The production quantizer path: Lloyd-trained centroids
    * ([[AnnOps.kmeansCentroids]], the ivfKnnTrained convention) replace
    * the seed convention — in a real corpus k grows ~√N and training
    * places cells where the density is, keeping within-cluster pair
    * counts bounded. Same core, same output contract; centroids
    * materialize once (k rows) so the Lloyd lineage never replays.
    */
  def semanticDedupTrained(emb: DataFrame, k: Int = 16, iters: Int = 2,
                           tau: Double = 0.35): DataFrame = {
    val e = normedCached(emb)
    // a local frame: reading it again runs no training job
    val cents = AnnOps.kmeansCentroids(e, k, iters)
    semanticDedupCore(e, cents, tau, release = Seq(e))
  }

  val d11 = QueryDef(
    "d11_semantic_dedup",
    "SemDeDup: 16-centroid cluster assign + within-cluster cosine drop",
    (s, dir) => semanticDedup(Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("emb"))),
    Some("""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings),
      n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM e),
      seeds AS (SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
                FROM n ORDER BY vec_id LIMIT 16),
      assign AS (SELECT vec_id, c_id, emb, norm FROM (
          SELECT v.vec_id, s.c_id, v.emb, v.norm,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY list_dot_product(v.emb, s.c_emb) / (v.norm * s.c_norm) DESC,
                            s.c_id) AS rn
          FROM n v CROSS JOIN seeds s) t WHERE rn = 1),
      drops AS (SELECT DISTINCT b.vec_id
                FROM assign a JOIN assign b
                  ON a.c_id = b.c_id AND a.vec_id < b.vec_id
                WHERE list_dot_product(a.emb, b.emb) / (a.norm * b.norm) >= 0.35)
      SELECT a.vec_id, a.c_id,
             (a.vec_id IN (SELECT vec_id FROM drops)) AS dropped
      FROM assign a ORDER BY a.vec_id"""))

  /** Cluster-capped DIVERSITY sampling — the coverage-preserving subset a
    * curated pretraining mix wants where uniform random sampling would
    * mirror the corpus's topic skew: assign every vector to its nearest
    * centroid (the d11 convention), then keep at most `cap` members per
    * cluster by a seeded-md5 rank (the t20 deterministic-shuffle idiom) —
    * dominant clusters are capped, tail clusters survive whole, and the
    * sample is seedless-deterministic and re-partitioning-stable.
    *
    * Scale shape: assignment is the d11 broadcast-centroid argmax; the
    * quota rank is a window PARTITIONED BY cluster — bounded by cluster
    * size (k grows ~√N under the trained quantizer, so clusters stay
    * bounded), never corpus-global.
    */
  private[graft] def diverseSample(emb: DataFrame, kSeeds: Int = 16,
      cap: Int = 20, seed: String = "div42"): DataFrame = {
    val e = normedCached(emb)
    val assign = assignToCentroids(e, seedCents(e, kSeeds))
      .select(col("vec_id"), col("c_id"))
    val quota = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_id"))
      .orderBy(md5(concat(col("vec_id").cast("string"), lit(s":$seed"))
        .cast("binary")), col("vec_id"))
    val out = assign
      .withColumn("rk", row_number().over(quota))
      .select(col("vec_id"), col("c_id"), (col("rk") <= cap).as("picked"))
      .orderBy(col("vec_id"))
      .localCheckpoint(true)
    e.unpersist(blocking = false)
    out
  }

  val d14 = QueryDef(
    "d14_diverse_sample",
    "cluster-capped diversity sampling: seeded-md5 quota per d11 cluster",
    (s, dir) => diverseSample(Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("emb"))),
    Some("""WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings),
      n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS norm FROM e),
      seeds AS (SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm
                FROM n ORDER BY vec_id LIMIT 16),
      assign AS (SELECT vec_id, c_id FROM (
          SELECT v.vec_id, s.c_id,
                 row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY list_dot_product(v.emb, s.c_emb) / (v.norm * s.c_norm) DESC,
                            s.c_id) AS rn
          FROM n v CROSS JOIN seeds s) t WHERE rn = 1),
      r AS (SELECT vec_id, c_id,
              row_number() OVER (PARTITION BY c_id
                ORDER BY md5(CAST(vec_id AS VARCHAR) || ':div42'), vec_id) AS rk
            FROM assign)
      SELECT vec_id, c_id, rk <= 20 AS picked FROM r ORDER BY vec_id"""))

  /** d12 core: cross-document boilerplate-LINE removal — the C4/RefinedWeb
    * cleanup step that d09's span detector only measures: any line (the
    * [[TextOps.docLines]] pseudo-line model) appearing in at least
    * `minDocs` DISTINCT documents is corpus boilerplate (cookie banners,
    * nav chrome, license headers) and is dropped from every document; the
    * cleaned text is the kept lines re-joined in position order.
    *
    * Scale shape: lines explode linearly (|tokens|/3 rows, never pairs);
    * the boilerplate set is ONE keyed aggregation (distinct-doc count per
    * line — two-phase, map-side combinable); flagging is a single
    * line-keyed left join (AQE broadcasts the boilerplate side when it is
    * small, and it usually is — bounded by lines crossing the frequency
    * threshold); the rebuild is one doc-keyed aggregation whose state is
    * the doc's own lines. No corpus-global window, nothing quadratic.
    */
  private[graft] def dropCommonLines(d: DataFrame, minDocs: Int = 4,
      lineTok: Int = 3): DataFrame = {
    // lineTok > 3 is the paragraph-granularity twin the t26/d12 docs name:
    // the same operator over wider docLines chunks
    val lines = TextOps.docLines(d, lineTok)
    val common = lines.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("line"), lit(1L).as("isb"))
    lines.join(common, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_lines"),
        sum(when(col("isb").isNull, 1L).otherwise(0L)).cast("bigint").as("n_kept"),
        collect_list(when(col("isb").isNull, struct(col("pos"), col("line"))))
          .as("kept"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_dropped"),
        md5(expr("concat_ws(' ', transform(array_sort(kept), x -> x.line))")
          .cast("binary")).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  /** [[dropCommonLines]] as a REWRITE stage for the curation pipeline:
    * returns the input frame with `text` replaced by the kept lines
    * re-joined in position order (and `n_chars` recomputed when present);
    * all other columns pass through. Docs the line model skips
    * (blank/whitespace) pass through unchanged. Same scale shapes as the
    * gate; the only addition is one doc-keyed join back onto the input.
    *
    * Unlike the gate form, the line model runs WITHOUT the synthetic
    * injected boiler line (round-11 ADVICE: below minDocs the injected
    * line would be "kept" and written into rebuilt text as phantom
    * boilerplate — injection is a gate-only decoration). Rebuilding from
    * 3-token chunks whitespace-NORMALIZES text by construction (runs of
    * whitespace collapse to single spaces) — acceptable for a curation
    * pipeline whose downstream stages are token-based, and pinned in
    * CorpusPipelineSpec.
    */
  private[graft] def dropCommonLinesRewrite(d: DataFrame, minDocs: Int = 4,
      lineTok: Int = 3): DataFrame = {
    val lines = TextOps.docLines(d, lineTok, inject = false)
    val common = lines.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("line"), lit(1L).as("isb"))
    val rebuilt = lines.join(common, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(collect_list(when(col("isb").isNull, struct(col("pos"), col("line"))))
        .as("kept"))
      .select(col("doc_id"),
        expr("concat_ws(' ', transform(array_sort(kept), x -> x.line))")
          .as("__newtext"))
    rewriteText(d, rebuilt)
  }

  /** Replace `text` (and `n_chars` when present) from a (doc_id,
    * __newtext) frame — the shared tail of the rewrite stages.
    */
  private def rewriteText(d: DataFrame, rebuilt: DataFrame): DataFrame = {
    val joined = d.join(rebuilt, Seq("doc_id"), "left")
      .withColumn("text", coalesce(col("__newtext"), col("text")))
      .drop("__newtext")
    if (d.columns.contains("n_chars"))
      joined.withColumn("n_chars", length(col("text")))
    else joined
  }

  val d12 = QueryDef(
    "d12_line_boilerplate",
    "cross-doc boilerplate-line removal (>=4-doc lines dropped, text rebuilt)",
    (s, dir) => dropCommonLines(Tables.load(s, dir, "documents")),
    Some(s"""WITH ${TextOps.docLinesSql()},
      common AS (SELECT line FROM lines GROUP BY line
                 HAVING COUNT(DISTINCT doc_id) >= 4),
      fl AS (SELECT l.doc_id, l.pos, l.line, c.line IS NOT NULL AS isb
             FROM lines l LEFT JOIN common c ON c.line = l.line)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(SUM(CASE WHEN isb THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN isb THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        md5(COALESCE(string_agg(line, ' ' ORDER BY pos)
          FILTER (WHERE NOT isb), '')) AS kept_md5
      FROM fl GROUP BY doc_id ORDER BY doc_id"""))

  /** Leakage-safe train/val/test split — the contamination guard t06's
    * per-doc hash split cannot give: near-duplicate documents hashed
    * independently land in DIFFERENT splits ~34% of the time (1 − Σp²
    * with p ≈ 0.80/0.10/0.10),
    * silently leaking training text into validation. Here the t06 split
    * rule is applied to the CLUSTER CANONICAL id ([[canonicalMap]], d06's
    * LSH + transitive closure), so every member of a near-dup cluster
    * lands in the same split by construction and the split stays
    * deterministic, seedless, and re-partitioning-stable.
    *
    * Scale shape: d06's shapes (LSH band join + CC over the match-bounded
    * pair set) plus one narrow md5 map on the canonical id — no new
    * shuffle beyond d06.
    */
  val d13 = QueryDef(
    "d13_leakage_safe_split",
    "near-dup-cluster-aware 80/10/10 split (t06 rule on d06 canonical ids)",
    (s, dir) => canonicalMap(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("canonical_id"),
        TextOps.trainSplitColOn(col("canonical_id")).as("split"))
      .orderBy(col("doc_id")),
    Some(s"""$canonicalMapSqlCtes
      SELECT d.doc_id, $canonicalIdSql AS canonical_id,
        ${TextOps.trainSplitSqlExprOn(canonicalIdSql)} AS split
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN comp c ON d.doc_id = c.node
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------- d15
  /** d15 core: duplicate-SPAN REMOVAL — the rewrite step of exact-substring
    * dedup (the published recipe d09 only measures: remove every copy of a
    * repeated substring but one, rebuild the text). Span model identical to
    * d09's (8-token sliding windows, stride 1), but duplication here is
    * >= 2 occurrences CORPUS-WIDE rather than d09's >= 2 DISTINCT DOCS:
    * a removal pass that kept within-document copies would leave exactly
    * the repetition t09/t28 penalize, so in-doc repeats dedup too.
    *
    * Keep rule (total, deterministic, partitioning-independent): each
    * duplicated window's CANONICAL occurrence is the lexicographically
    * smallest (doc_id, start); a token position is removed iff it is
    * covered by at least one NON-canonical occurrence. A run of repeated
    * text longer than the window is wholly canonical in the first doc
    * (all its windows take their minimum there) and wholly removed
    * everywhere else; a canonical window overlapping a different gram's
    * non-canonical window can lose boundary tokens — the window-granularity
    * edge effect the exact-substring recipe accepts.
    *
    * Scale shape: linear everywhere — |tokens| window rows hashed and
    * shuffled ONCE keyed by window hash (d09's inverted-index shape; the
    * canonical pick rides the same aggregation that counts occurrences,
    * as a min over a (doc_id, start) struct); removal positions explode
    * from the match-bounded non-canonical set and collapse with a
    * per-(doc, pos) DISTINCT (the t28 coverage idiom — no interval fold,
    * no window function); the rebuild is one doc-keyed aggregation whose
    * state is the doc's own tokens (the d12 rebuild idiom). Nothing
    * pairwise, nothing corpus-global.
    */
  // ---- shared span-family building blocks: the d15 (per-window) and
  // d18 (maximal-span) gates and their pipeline REWRITE stages are four
  // compositions of the same pieces — input token arrays, window
  // occurrences, a removal-position set, and one of two tails (gate
  // summary vs text rebuild).

  /** (doc_id, arr) token arrays of non-blank docs. */
  private def spanToks(d: DataFrame): DataFrame =
    d.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), split(trim(col("text")), graft.Tok.Ws).as("arr"))

  /** (doc_id, p, w) token-position rows. */
  private def spanTl(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), posexplode(col("arr")).as(Seq("p", "w")))

  /** (doc_id, s, h) sliding-window occurrence hashes, stride 1. */
  private def spanOcc(toks: DataFrame, winTok: Int): DataFrame =
    toks.filter(size(col("arr")) >= winTok)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(arr) - $winTok),
            i -> md5(cast(concat_ws(' ', slice(arr, i + 1, $winTok)) as binary)))"""))
        .as(Seq("s", "h")))

  /** d15's removal set: positions covered by ≥ 1 NON-canonical dup
    * window (canonical = min (doc_id, s), riding the count aggregation).
    */
  private def removedPerWindow(occ: DataFrame, winTok: Int): DataFrame = {
    val dupCanon = occ.groupBy(col("h"))
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("s"))).as("cn"))
      .filter(col("c") >= 2)
      .select(col("h"), col("cn"))
    occ.join(dupCanon, Seq("h"))
      .filter(col("doc_id") =!= col("cn.doc_id") || col("s") =!= col("cn.s"))
      .select(col("doc_id"), explode(expr(s"sequence(s, s + ${winTok - 1})")).as("p"))
      .distinct()
  }

  /** d18's removal set: dup windows chain per doc (gap ≤ winTok) into
    * maximal runs; runs group by covered-token CONTENT; each group's
    * canonical (min (doc_id, s0)) survives whole, every other occurrence
    * removes whole.
    */
  private def removedMaximalSpans(toks: DataFrame, occ: DataFrame,
      winTok: Int): DataFrame = {
    val dup = occ.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"))
    val runs = occ.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"), col("s"))
      .withColumn("prev", lag(col("s"), 1).over(wOrd))
      .withColumn("brk",
        when(col("prev").isNull || col("s") - col("prev") > winTok, 1L)
          .otherwise(0L))
      .withColumn("rid", sum(col("brk")).over(wOrd))
    val spans = runs.groupBy(col("doc_id"), col("rid"))
      .agg(min(col("s")).as("s0"),
        (max(col("s")) + lit(winTok - 1)).as("e0"))
    val spanKeyed = spans.join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("s0"), col("e0"),
        md5(expr("concat_ws(' ', slice(arr, s0 + 1, e0 - s0 + 1))")
          .cast("binary")).as("key"))
    val canon = spanKeyed.groupBy(col("key"))
      .agg(min(struct(col("doc_id"), col("s0"))).as("cn"))
    spanKeyed.join(canon, Seq("key"))
      .filter(col("doc_id") =!= col("cn.doc_id") || col("s0") =!= col("cn.s0"))
      .select(col("doc_id"), explode(expr("sequence(s0, e0)")).as("p"))
      .distinct()
  }

  /** Gate-summary tail: (doc_id, n_tokens, n_kept, n_removed, kept_md5). */
  private def spanSummary(tl: DataFrame, removed: DataFrame): DataFrame =
    tl.join(removed.withColumn("rm", lit(1L)), Seq("doc_id", "p"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_tokens"),
        sum(when(col("rm").isNull, 1L).otherwise(0L)).cast("bigint").as("n_kept"),
        collect_list(when(col("rm").isNull, struct(col("p"), col("w")))).as("kept"))
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        (col("n_tokens") - col("n_kept")).as("n_removed"),
        md5(expr("concat_ws(' ', transform(array_sort(kept), x -> x.w))")
          .cast("binary")).as("kept_md5"))
      .orderBy(col("doc_id"))

  /** Rewrite tail: `text` (and `n_chars` when present) rebuilt from the
    * kept tokens, other columns preserved.
    */
  private def spanRewrite(d: DataFrame, tl: DataFrame,
      removed: DataFrame): DataFrame =
    rewriteText(d,
      tl.join(removed.withColumn("rm", lit(1L)), Seq("doc_id", "p"), "left")
        .groupBy(col("doc_id"))
        .agg(collect_list(when(col("rm").isNull, struct(col("p"), col("w"))))
          .as("kept"))
        .select(col("doc_id"),
          expr("concat_ws(' ', transform(array_sort(kept), x -> x.w))")
            .as("__newtext")))

  private[graft] def removeDupSpans(d: DataFrame, winTok: Int = 8): DataFrame = {
    val toks = spanToks(d)
    spanSummary(spanTl(toks), removedPerWindow(spanOcc(toks, winTok), winTok))
  }

  /** [[removeDupSpans]] as a REWRITE stage for the curation pipeline:
    * the input frame with non-canonical duplicated-span tokens removed
    * from `text` (`n_chars` recomputed when present), other columns
    * untouched. Same plan shapes as the d15 gate plus one doc-keyed join.
    */
  private[graft] def removeDupSpansRewrite(d: DataFrame,
      winTok: Int = 8): DataFrame = {
    val toks = spanToks(d)
    spanRewrite(d, spanTl(toks), removedPerWindow(spanOcc(toks, winTok), winTok))
  }

  val d15 = QueryDef(
    "d15_dup_span_removal",
    "exact-substring dedup rewrite: non-canonical dup 8-token spans removed",
    (s, dir) => removeDupSpans(Tables.load(s, dir, "documents")),
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
              FROM documents WHERE length(trim(text)) > 0),
      tl AS (SELECT doc_id, i AS p, arr[CAST(i AS INT) + 1] AS w
             FROM (SELECT doc_id, arr, unnest(range(len(arr))) AS i FROM t) x),
      occ AS (SELECT doc_id, i AS s,
                md5(array_to_string(arr[CAST(i AS INT) + 1 : CAST(i AS INT) + 8], ' ')) AS h
              FROM (SELECT doc_id, arr, unnest(range(len(arr) - 7)) AS i
                    FROM t WHERE len(arr) >= 8) x),
      dup AS (SELECT h FROM occ GROUP BY h HAVING COUNT(*) >= 2),
      cd AS (SELECT o.h, MIN(o.doc_id) AS cdoc
             FROM occ o JOIN dup USING (h) GROUP BY o.h),
      cn AS (SELECT o.h, o.doc_id AS cdoc, MIN(o.s) AS cs
             FROM occ o JOIN cd ON cd.h = o.h AND cd.cdoc = o.doc_id
             GROUP BY o.h, o.doc_id),
      rm AS (SELECT DISTINCT doc_id, s + j AS p
             FROM (SELECT o.doc_id, o.s, unnest(range(8)) AS j
                   FROM occ o JOIN dup USING (h)
                   LEFT JOIN cn ON cn.h = o.h AND cn.cdoc = o.doc_id
                     AND cn.cs = o.s
                   WHERE cn.h IS NULL) y),
      fl AS (SELECT tl.doc_id, tl.p, tl.w, rm.p IS NOT NULL AS isrm
             FROM tl LEFT JOIN rm ON rm.doc_id = tl.doc_id AND rm.p = tl.p)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN isrm THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN isrm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        md5(COALESCE(string_agg(w, ' ' ORDER BY p) FILTER (WHERE NOT isrm),
          '')) AS kept_md5
      FROM fl GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- d18
  /** MAXIMAL-span exact-substring dedup — the Lee et al. 2021 semantics
    * at ≥ `winTok`-token matches, without a suffix array (r10 VERDICT
    * "What's missing" #1). [[removeDupSpans]] (d15) elects a canonical
    * occurrence PER 8-TOKEN WINDOW, so a long duplicated passage whose
    * windows take their minima in different documents keeps interleaved
    * fragments — the passage can survive intact NOWHERE. Here the unit of
    * election is the maximal span:
    *
    *   1. duplicated windows (corpus-wide count ≥ 2, d15's rule — within-
    *      doc repeats dedup too) are CHAINED per document: consecutive
    *      dup-window starts with gap ≤ winTok (overlapping or exactly
    *      adjacent coverage) join one run; a run covers [s0, smax+winTok−1];
    *   2. runs are grouped by their CONTENT (md5 of the covered tokens)
    *      and each group elects ONE canonical occurrence — the
    *      lexicographically smallest (doc_id, s0);
    *   3. only non-canonical runs are removed (whole, contiguous); the
    *      rebuild is d15's.
    *
    * Invariant d15 lacks (pinned in DedupOpsSpec): every removed span has
    * a surviving byte-identical copy — its group's canonical run is kept
    * WHOLE. Residual approximation, documented: a stretch of text that is
    * a maximal run in one doc but sits INSIDE a longer maximal run
    * elsewhere forms a separate content group, so up to one extra copy
    * per distinct containing-span content can survive (conservative —
    * never removes the last copy, unlike per-window fragmentation which
    * can destroy all intact copies).
    *
    * Scale shape: everything linear or match-bounded — dup detection is
    * d09/d15's one window-hash shuffle; chaining is a lag + running-sum
    * window PARTITIONED BY doc (bounded by the doc's dup-window count,
    * never corpus-global); span content hashes come from one doc-keyed
    * join back to the token arrays (the same arrays the rebuild needs);
    * the canonical election is one aggregation keyed by span content
    * (match-bounded); removal positions explode per removed span and
    * collapse with the t28 per-(doc,pos) DISTINCT idiom. Nothing
    * pairwise, nothing corpus-global.
    */
  private[graft] def removeDupSpansMaximal(d: DataFrame,
      winTok: Int = 8): DataFrame = {
    val toks = spanToks(d)
    spanSummary(spanTl(toks),
      removedMaximalSpans(toks, spanOcc(toks, winTok), winTok))
  }

  /** [[removeDupSpansMaximal]] as a REWRITE stage (the d12/d15-rewrite
    * convention): non-canonical maximal spans removed from `text`
    * (`n_chars` recomputed when present), other columns untouched.
    */
  private[graft] def removeDupSpansMaximalRewrite(d: DataFrame,
      winTok: Int = 8): DataFrame = {
    val toks = spanToks(d)
    spanRewrite(d, spanTl(toks),
      removedMaximalSpans(toks, spanOcc(toks, winTok), winTok))
  }

  val d18 = QueryDef(
    "d18_max_span_dedup",
    "maximal-span exact-substring dedup: chained dup windows, span-level canonicals",
    (s, dir) => removeDupSpansMaximal(Tables.load(s, dir, "documents")),
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
              FROM documents WHERE length(trim(text)) > 0),
      tl AS (SELECT doc_id, i AS p, arr[CAST(i AS INT) + 1] AS w
             FROM (SELECT doc_id, arr, unnest(range(len(arr))) AS i FROM t) x),
      occ AS (SELECT doc_id, i AS s,
                md5(array_to_string(arr[CAST(i AS INT) + 1 : CAST(i AS INT) + 8], ' ')) AS h
              FROM (SELECT doc_id, arr, unnest(range(len(arr) - 7)) AS i
                    FROM t WHERE len(arr) >= 8) x),
      dup AS (SELECT h FROM occ GROUP BY h HAVING COUNT(*) >= 2),
      docc AS (SELECT o.doc_id, o.s FROM occ o SEMI JOIN dup d ON d.h = o.h),
      runs AS (SELECT doc_id, s,
                 SUM(CASE WHEN prev IS NULL OR s - prev > 8 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY s) AS rid
               FROM (SELECT doc_id, s,
                       lag(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev
                     FROM docc) y),
      spans AS (SELECT doc_id, rid, MIN(s) AS s0, MAX(s) + 7 AS e0
                FROM runs GROUP BY 1, 2),
      spk AS (SELECT sp.doc_id, sp.s0, sp.e0,
                md5(array_to_string(
                  t.arr[CAST(sp.s0 AS INT) + 1 : CAST(sp.e0 AS INT) + 1], ' ')) AS key
              FROM spans sp JOIN t USING (doc_id)),
      cn AS (SELECT key, doc_id AS cdoc, s0 AS cs FROM (
               SELECT key, doc_id, s0,
                      row_number() OVER (PARTITION BY key ORDER BY doc_id, s0) AS rn
               FROM spk) z WHERE rn = 1),
      rm AS (SELECT DISTINCT doc_id, s0 + j AS p
             FROM (SELECT k.doc_id, k.s0, unnest(range(k.e0 - k.s0 + 1)) AS j
                   FROM spk k JOIN cn ON cn.key = k.key
                   WHERE k.doc_id <> cn.cdoc OR k.s0 <> cn.cs) y),
      fl AS (SELECT tl.doc_id, tl.p, tl.w, rm.p IS NOT NULL AS isrm
             FROM tl LEFT JOIN rm ON rm.doc_id = tl.doc_id AND rm.p = tl.p)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN isrm THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN isrm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        md5(COALESCE(string_agg(w, ' ' ORDER BY p) FILTER (WHERE NOT isrm),
          '')) AS kept_md5
      FROM fl GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------------------------------- d16
  /** Soft dedup — the published alternative to hard-dropping near-dups:
    * keep every document but down-weight duplicated clusters so a
    * training run sees each cluster with total mass 1 (per-doc sampling
    * weight = 1 / |near-dup cluster|, clusters from d06's LSH +
    * transitive closure). Dropping (d06's keep-list) loses the
    * highest-quality copy's formatting variants; weighting preserves them
    * while removing the over-representation that makes models memorize.
    *
    * Scale shape: d06's shapes plus ONE cluster-keyed count aggregation
    * and one join back on the canonical id — no new corpus-sized shuffle
    * beyond the map itself. The cluster-size side is match-bounded
    * (one row per cluster), AQE broadcasts it when small.
    */
  /** d16 core over any (doc_id, canonical_id) map — factored for the
    * spec's hand fixture.
    */
  private[graft] def softDedupWeights(cm: DataFrame): DataFrame = {
    val sizes = cm.groupBy(col("canonical_id"))
      .agg(count(lit(1)).cast("bigint").as("cluster_size"))
    cm.join(sizes, Seq("canonical_id"))
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"),
        (lit(1.0) / col("cluster_size").cast("double")).as("weight"))
      .orderBy(col("doc_id"))
  }

  val d16 = QueryDef(
    "d16_soft_dedup_weights",
    "soft dedup: per-doc weight 1/|near-dup cluster| (cluster mass = 1)",
    (s, dir) =>
      softDedupWeights(canonicalMap(Tables.load(s, dir, "documents"))),
    Some(s"""$canonicalMapSqlCtes,
      cm AS (SELECT d.doc_id, $canonicalIdSql AS canonical_id
             FROM (SELECT DISTINCT doc_id FROM documents) d
             LEFT JOIN comp c ON d.doc_id = c.node),
      sz AS (SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
             FROM cm GROUP BY canonical_id)
      SELECT cm.doc_id, cm.canonical_id, sz.cluster_size,
        CAST(1.0 AS DOUBLE) / sz.cluster_size AS weight
      FROM cm JOIN sz USING (canonical_id) ORDER BY doc_id"""))

  // ---------------------------------------------------------------- d17
  /** Fraction-threshold contamination severity — the published DECISION
    * RULE on top of d05's raw counts: a corpus doc is judged by the
    * FRACTION of its own distinct 3-shingles found anywhere in the
    * held-out benchmark (the C4/GPT-3-family form: drop above a high
    * threshold, flag a partial band, keep clean), not by any-overlap.
    * Bucket cuts here: high >= 0.8, partial >= 0.2.
    *
    * Determinism across engines: n_hit/n_sh is ONE double division of two
    * exact integers (identical bit pattern both engines), and the bucket
    * comparisons reuse that exact quotient — no accumulated float math.
    *
    * Scale shape: d05's — the benchmark shingle set is tiny (eval-suite
    * contract) and broadcast under the usual limit; corpus shingles
    * stream through the compiled [[graft.functions.ShingleArr]] build and
    * one map-side hash join; the per-doc aggregate is match-bounded on
    * the hit side and one corpus-linear count on the size side (no
    * corpus-sized shuffle beyond the doc-keyed combine).
    */
  private[graft] def contaminationSeverity(docs: DataFrame, benchMod: Long = 97L,
      thHigh: Double = 0.8, thPart: Double = 0.2,
      broadcastLimit: Long = broadcastRowLimit): DataFrame = {
    val arr = shingleArrs(docs).cache()
    arr.count() // single cache fill (see d01)
    val isBench = pmod(col("doc_id"), lit(benchMod)) === 0
    val benchSh = arr.filter(isBench)
      .select(explode(col("shArr")).as("sh")).distinct().cache()
    val nBenchSh = benchSh.count() // cache fill + size contract probe
    val corp = arr.filter(!isBench)
    val hits = corp.select(col("doc_id"), explode(col("shArr")).as("sh"))
      .join(broadcastIfUnder(benchSh, nBenchSh, broadcastLimit), Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    // materialize BEFORE releasing: an early unpersist would mean the
    // cache filled by the contract counts never serves the actual
    // execution (r10 ADVICE) — and eagerness lets BOTH caches go,
    // including arr, so a long-lived session accumulates nothing from
    // this gate
    val out = corp
      .select(col("doc_id"), size(col("shArr")).cast("bigint").as("n_sh"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("frac", col("n_hit").cast("double") / col("n_sh"))
      .withColumn("severity",
        when(col("frac") >= thHigh, "high")
          .when(col("frac") >= thPart, "partial")
          .otherwise("clean"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    Seq(arr, benchSh).foreach(_.unpersist(blocking = false))
    out
  }

  val d17 = QueryDef(
    "d17_contamination_severity",
    "fraction-threshold decontamination: per-doc bench-overlap severity",
    (s, dir) => contaminationSeverity(Tables.load(s, dir, "documents")),
    Some(s"""WITH $shingleSql,
      b AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
      c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
              CAST(COUNT(CASE WHEN sh IN (SELECT sh FROM b) THEN 1 END)
                AS BIGINT) AS n_hit
            FROM sh WHERE doc_id % 97 <> 0 GROUP BY doc_id)
      SELECT doc_id, n_sh, n_hit,
        CAST(n_hit AS DOUBLE) / n_sh AS frac,
        CASE WHEN CAST(n_hit AS DOUBLE) / n_sh >= 0.8 THEN 'high'
             WHEN CAST(n_hit AS DOUBLE) / n_sh >= 0.2 THEN 'partial'
             ELSE 'clean' END AS severity
      FROM c ORDER BY doc_id"""))

  // ---------------------------------------------------------------- d19
  /** The PRODUCTION near-dup recipe for hostile (boilerplate-heavy crawl)
    * corpora — the composition [[bandBucketCap]]'s semantics point at:
    * route the exact-duplicate mass through a linear hash-groupBy FIRST
    * (t01's shape: one shuffle on md5(text)), then run MinHash-LSH only
    * on the surviving REPRESENTATIVES. On a corpus where 20% of docs are
    * byte-identical, the naive d02 plan puts the whole identical mass in
    * one (band, sig) bucket (quadratic within the bucket, and the OUTPUT
    * itself is quadratic: every member pair); this recipe emits the exact
    * mass as a linear STAR (canonical → member, jac = 1.0 — byte equality
    * IS Jaccard 1.0) and the near-dup layer sees each group once.
    *
    * Scale shape: one corpus-keyed md5 groupBy + one semi-join (both
    * linear, map-side combinable) + d02's banded plan over the smaller
    * representative set, with [[capBands]] as the backstop for
    * boilerplate collisions that survive exact collapse.
    */
  private[graft] def nearDupPairsGuarded(docs: DataFrame,
      minJac: Double = 0.3, cap: Int = bandBucketCap): DataFrame = {
    val g = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
    val canon = g.groupBy(col("h")).agg(min(col("doc_id")).as("canon"))
    val star = g.join(canon, Seq("h"))
      .filter(col("doc_id") > col("canon"))
      .select(col("canon").as("doc_a"), col("doc_id").as("doc_b"),
        lit(1.0).as("jac"))
    val reps = docs.join(canon.select(col("canon").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val arr = shingleArrs(reps).cache()
    arr.count() // single cache fill (see d01)
    star.unionByName(minhashLshPairsFromArrs(arr, minJac, cap))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val d19 = QueryDef(
    "d19_neardup_guarded",
    "exact-dup star collapse + MinHash-LSH near-dup pairs on representatives",
    (s, dir) => nearDupPairsGuarded(Tables.load(s, dir, "documents")),
    Some(s"""WITH g AS (SELECT doc_id, md5(text) AS h FROM documents
                  WHERE length(trim(text)) > 0),
      gc AS (SELECT h, MIN(doc_id) AS canon FROM g GROUP BY h),
      star AS (SELECT gc.canon AS doc_a, g.doc_id AS doc_b,
                      CAST(1.0 AS DOUBLE) AS jac
               FROM g JOIN gc ON gc.h = g.h WHERE g.doc_id > gc.canon),
      reps AS (SELECT d.* FROM documents d JOIN gc ON gc.canon = d.doc_id),
      ${minhashPairsSql("reps", 0.3, "r")}
      SELECT doc_a, doc_b, jac FROM star
      UNION ALL SELECT doc_a, doc_b, jac FROM rpairs
      ORDER BY doc_a, doc_b"""))

  // ---------------------------------------------------------------- d20
  /** [[nearDupPairsGuarded]]'s EMBEDDING-side twin: the production recipe
    * for an adversarial vector corpus (mass re-embeddings of one byte-
    * identical payload — mirrored sites, dedup-skipped re-crawls). d04's
    * 4-bit band signatures put every copy of an identical vector in the
    * SAME bucket of every band, so the band self-join goes quadratic in
    * the copy count and the OUTPUT itself is quadratic (every copy pair).
    * Here the identical mass collapses through one LINEAR groupBy on the
    * raw float array (bit equality — parquet floats round-trip exactly,
    * so grouping is engine-identical) into canonical STARS (sim = 1.0:
    * byte-identical vectors ARE cosine 1.0), and the banded layer sees
    * each distinct vector once. Note the residual scale bound d04's own
    * Scaladoc states still applies to the representative set: 4-bit band
    * signatures have 16 buckets per band, so DISTINCT-vector corpora need
    * wider signatures as N grows — the collapse removes the adversarial
    * blowup, the band width governs the healthy one.
    */
  private[graft] def embNearDupGuarded(raw: DataFrame,
      minSim: Double = 0.35): DataFrame = {
    val g = raw.select(col("vec_id"), col("embedding"))
    val canon = g.groupBy(col("embedding")).agg(min(col("vec_id")).as("canon"))
    val star = g.join(canon, Seq("embedding"))
      .filter(col("vec_id") > col("canon"))
      .select(col("canon").as("vec_a"), col("vec_id").as("vec_b"),
        lit(1.0).as("sim"))
    val reps = raw.join(canon.select(col("canon").as("vec_id")),
      Seq("vec_id"), "left_semi")
    star.unionByName(embBandPairs(reps, minSim))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val d20 = QueryDef(
    "d20_embed_dup_guarded",
    "exact-identical-vector star collapse + hyperplane-LSH pairs on representatives",
    (s, dir) => embNearDupGuarded(Tables.load(s, dir, "embeddings")),
    Some(s"""WITH gc AS (SELECT embedding, MIN(vec_id) AS canon
                  FROM embeddings GROUP BY embedding),
      star AS (SELECT gc.canon AS vec_a, g.vec_id AS vec_b,
                      CAST(1.0 AS DOUBLE) AS sim
               FROM embeddings g JOIN gc ON g.embedding = gc.embedding
               WHERE g.vec_id > gc.canon),
      reps AS (SELECT e0.* FROM embeddings e0 JOIN gc ON gc.canon = e0.vec_id),
      ${embPairsSql("reps", 0.35, "r")}
      SELECT vec_a, vec_b, sim FROM star
      UNION ALL SELECT vec_a, vec_b, sim FROM repairs
      ORDER BY vec_a, vec_b"""))

  val all: Seq[QueryDef] =
    Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10, d11, d12, d13, d14,
      d15, d16, d17, d18, d19, d20)
}
