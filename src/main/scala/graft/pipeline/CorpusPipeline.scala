package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.{DedupOps, TextOps}

/** The training-corpus curation pipeline — the composition the individual
  * t/d gates exist for, as one reusable chain:
  *
  *   benchmark holdout → quality filter → exact dedup → near-dup removal
  *   (MinHash+LSH) → decontamination vs the benchmark → language ID →
  *   deterministic split
  *
  * Every stage is the already-oracled operator (same code paths:
  * [[TextOps.withLangPred]], [[DedupOps.minhashLshPairs]],
  * [[DedupOps.shingles]]), so the composite gate (t12) proves the stages
  * compose without semantic drift — and the DuckDB oracle replays the
  * full chain in SQL.
  *
  * Scale shape: stages 1–2 are narrow maps + one hash-shuffle each;
  * near-dup is the banded-LSH plan (never all-pairs); decontamination
  * broadcasts the benchmark shingles; the split is a pure hash function.
  * Drops are anti-joins on doc_id — no stage rewrites document payloads
  * until the final projection.
  */
object CorpusPipeline {
  /** The optional flags (all off by default — [[curate]] is the gated t12
    * chain exactly) wire the round-10 curation operators in as stages:
    *  - `dropBoilerplateMinDocs` (d12): lines in ≥ n distinct docs are
    *    removed from every doc, text REWRITTEN, before near-dup;
    *  - `removeSpanTok` (d15): non-canonical duplicated n-token spans
    *    removed, text REWRITTEN, after boilerplate; `spanMaximal` swaps
    *    in d18's maximal-span semantics (span-level canonicals — every
    *    removed span keeps a byte-identical copy somewhere);
    *  - `softWeights` (d16): REPLACES the hard near-dup drop — every doc
    *    survives with weight 1/|near-dup cluster| in a `weight` column;
    *  - `dsirTarget`/`dsirFrac` (t27 scale twin): after decontamination,
    *    keep the DSIR Gumbel-top-frac importance resample toward the
    *    target source (percentile-cutoff form — no corpus-global window).
    */
  final case class Config(
      benchMod: Long = 97L,       // doc_id % benchMod == 0 → held-out eval
      minWords: Long = 5L,
      maxTopWordFrac: Double = 0.2, // Gopher-style repetition cut
      nearDupMinJac: Double = 0.3,
      contamMinShared: Long = 2L,   // shared 3-shingles with one bench doc
      dropBoilerplateMinDocs: Option[Int] = None, // d12 rewrite stage
      removeSpanTok: Option[Int] = None,          // d15/d18 rewrite stage
      spanMaximal: Boolean = false,               // d18 semantics for it
      softWeights: Boolean = false,               // d16 instead of hard drop
      dsirTarget: Option[String] = None,          // t27-twin selection stage
      dsirFrac: Double = 0.2)

  val default: Config = Config()

  /** Held-out benchmark slice (never training data). */
  def benchmarkSlice(docs: DataFrame, cfg: Config = default): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(cfg.benchMod)) === 0)

  def corpusSlice(docs: DataFrame, cfg: Config = default): DataFrame =
    docs.filter(pmod(col("doc_id"), lit(cfg.benchMod)) =!= 0)

  /** Stage 1: repetition/length quality filter — t09's shared
    * [[TextOps.topWordStats]] as a semi-join filter.
    */
  def qualityFilter(docs: DataFrame, cfg: Config = default): DataFrame = {
    val keep = TextOps.topWordStats(docs)
      .filter(col("n_tokens") >= cfg.minWords &&
        col("top_word_n").cast("double") / col("n_tokens").cast("double")
          <= cfg.maxTopWordFrac)
      .select(col("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** Stage 2: exact dedup — keep the smallest doc_id per content hash
    * (t01's semantics as a filter).
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text").cast("binary")))
      .orderBy(col("doc_id"))
    docs.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
  }

  /** Stage 3: near-duplicate removal — MinHash+LSH verified pairs (d02),
    * dropping the larger doc_id of each pair. `sharedArrs` (the cached
    * [[DedupOps.shingleArrs]] frame) lets [[curate]] reuse ONE shingle
    * build across this stage and decontamination instead of re-scanning
    * the text.
    */
  def nearDedup(docs: DataFrame, cfg: Config = default,
      sharedArrs: Option[DataFrame] = None): DataFrame = {
    val pairs = sharedArrs match {
      case Some(arr) =>
        DedupOps.minhashLshPairsFromArrs(arr, cfg.nearDupMinJac)
      case None => DedupOps.minhashLshPairs(docs, cfg.nearDupMinJac)
    }
    // eager drop-id set (tiny): downstream consumers re-read only the ids,
    // never the LSH pair lineage — and [[curate]] can release the shingle
    // cache as soon as this and the decontam id set are materialized
    val dupIds = pairs.select(col("doc_b").as("doc_id")).distinct()
      .localCheckpoint(true)
    docs.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Stage 4: decontamination — drop any doc sharing >= contamMinShared
    * 3-shingles with a single benchmark doc (d05's pair counting as a
    * filter). The benchmark side is broadcast only while it honors the
    * eval-suite size contract (`broadcastLimit` shingle rows); above that
    * the join falls back to a shuffle — a corpus-sized "benchmark" must
    * not be shipped to every executor.
    */
  /** `docShingles`: a precomputed (doc_id, sh) superset covering `docs`
    * (e.g. the shared quality+exact-dedup-survivor shingles from
    * [[curate]]) — restricted here to `docs`' ids by a semi-join, which
    * at scale replaces a second full text scan + explode with a filter
    * over already-materialized shingle rows. Shingling is per-document,
    * so the restriction is exactly shingles(docs).
    */
  def decontaminate(docs: DataFrame, bench: DataFrame,
      cfg: Config = default,
      broadcastLimit: Long = DedupOps.broadcastRowLimit,
      docShingles: Option[DataFrame] = None): DataFrame = {
    val bsh = DedupOps.shingles(bench)
      .withColumnRenamed("doc_id", "bench_id").cache()
    val nBench = bsh.count() // fills the cache AND enforces the contract
    val dsh = docShingles match {
      case Some(sh) => sh.join(docs.select(col("doc_id")), Seq("doc_id"), "left_semi")
      case None => DedupOps.shingles(docs)
    }
    // the contaminated-id set is tiny (bounded by dropped docs), so it is
    // materialized eagerly — which lets the benchmark-shingle cache be
    // RELEASED here instead of squatting on executor storage until LRU
    // eviction (the cache outlives no consumer past this point)
    val contaminated =
      contaminatedIds(dsh, bsh, nBench, cfg, broadcastLimit).localCheckpoint(true)
    bsh.unpersist(blocking = false)
    docs.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** The lazy contamination plan (factored so the broadcast-vs-shuffle
    * contract stays plan-assertable after [[decontaminate]]'s eager
    * checkpoint): ids of docs sharing >= contamMinShared shingles with one
    * benchmark doc. `bsh` is (bench_id, sh); `nBench` its known row bound.
    */
  private[pipeline] def contaminatedIds(dsh: DataFrame, bsh: DataFrame,
      nBench: Long, cfg: Config = default,
      broadcastLimit: Long = DedupOps.broadcastRowLimit): DataFrame =
    dsh
      .join(DedupOps.broadcastIfUnder(bsh, nBench, broadcastLimit), Seq("sh"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= cfg.contamMinShared)
      .select(col("doc_id")).distinct()

  /** Stage 6: deterministic 80/10/10 split — t06's shared
    * [[TextOps.trainSplitCol]], one definition for gate and pipeline.
    */
  def withSplit(docs: DataFrame): DataFrame =
    docs.withColumn("split", TextOps.trainSplitCol)

  /** Full chain: curated corpus with pred_lang + split columns.
    *
    * Cache lifecycle (round-7 ADVICE): every cache this chain fills is
    * released before it returns — the drop-id sets (near-dup, contam) are
    * materialized eagerly inside their stages, the near-dup survivors are
    * localCheckpointed so the final projection re-reads materialized rows
    * instead of the cached quality+dedup lineage, and then the survivor
    * and shingle caches are unpersisted. A long-lived session running the
    * chain many times accumulates nothing.
    */
  def curate(docs: DataFrame, cfg: Config = default): DataFrame = {
    val corpus = corpusSlice(docs, cfg)
    val bench = benchmarkSlice(docs, cfg)
    // cache the dedup survivors: they are re-read by the shingle build,
    // the near-dup anti-join, AND the final projection — uncached, Spark
    // recomputes the quality-filter + window-dedup lineage for each
    val ed = exactDedup(qualityFilter(corpus, cfg)).cache()
    // ONE shingle build feeds both near-dup and decontamination:
    // re-deriving shingles per stage is a second full text scan +
    // explode at 100 TB. The shared representation is the per-doc
    // distinct-shingle ARRAY (DedupOps.shingleArrs): near-dup reads it
    // directly (narrow minhash_sig signatures, array_intersect verify),
    // and the decontam side explodes it into the (doc_id, sh) rows its
    // benchmark join needs — a narrow explode of materialized arrays,
    // not a text re-scan.
    val arrEd = DedupOps.shingleArrs(ed).cache()
    arrEd.count() // fill once; both stages read the materialized rows
    // nd's checkpoint materializes the survivor rows, cutting the final
    // projection loose from the ed cache (dupIds inside nearDedup is
    // already eager, so this single action pays the whole anti-join)
    val nd = nearDedup(ed, cfg, sharedArrs = Some(arrEd))
      .localCheckpoint(true)
    val shEd = arrEd.select(col("doc_id"), explode(col("shArr")).as("sh"))
    val cleaned = decontaminate(nd, bench, cfg, docShingles = Some(shEd))
    // decontaminate materialized its id set; no lazy consumer reads these
    Seq(arrEd, ed).foreach(_.unpersist(blocking = false))
    withSplit(TextOps.withLangPred(cleaned))
  }

  /** d16 as a stage: every near-dup cluster member survives with a
    * `weight` column = 1/|cluster| (clusters from the LSH pair set's
    * transitive closure over the SHARED shingle arrays). The soft
    * alternative to [[nearDedup]]'s hard drop.
    */
  def softWeightStage(docs: DataFrame, cfg: Config,
      sharedArrs: DataFrame): DataFrame = {
    val pairs = DedupOps
      .minhashLshPairsFromArrs(sharedArrs, cfg.nearDupMinJac)
      .select(col("doc_a"), col("doc_b"))
    val comp = graft.graph.GraphAlgs.connectedComponents(pairs, "doc_a", "doc_b")
    val cm = docs.select(col("doc_id")).distinct()
      .join(comp, col("doc_id") === col("node_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("canonical_id"))
    docs.join(DedupOps.softDedupWeights(cm)
      .select(col("doc_id"), col("weight")), Seq("doc_id"))
  }

  /** The FULL configurable chain. With every flag off this is [[curate]]
    * verbatim (CorpusPipelineSpec pins the equality); each enabled flag
    * splices its stage in at the position documented on [[Config]]:
    *
    *   quality → exact dedup → [d12 boilerplate rewrite] → [d15 span
    *   rewrite] → (d16 soft weights | near-dup drop) → decontam →
    *   [t27 DSIR selection] → lang-ID → split
    *
    * The shingle build is shared by near-dup/soft-weights and decontam as
    * in [[curate]] — but it must happen AFTER the rewrite stages (their
    * text edits change the shingle sets, which is the point).
    */
  def curateConfigured(docs: DataFrame, cfg: Config = default): DataFrame = {
    val corpus = corpusSlice(docs, cfg)
    val bench = benchmarkSlice(docs, cfg)
    val ed0 = exactDedup(qualityFilter(corpus, cfg))
    val rw1 = cfg.dropBoilerplateMinDocs
      .map(DedupOps.dropCommonLinesRewrite(ed0, _)).getOrElse(ed0)
    val rw2 = cfg.removeSpanTok
      .map(w =>
        if (cfg.spanMaximal) DedupOps.removeDupSpansMaximalRewrite(rw1, w)
        else DedupOps.removeDupSpansRewrite(rw1, w))
      .getOrElse(rw1)
    val ed = rw2.cache()
    val arrEd = DedupOps.shingleArrs(ed).cache()
    arrEd.count()
    val nd =
      (if (cfg.softWeights) softWeightStage(ed, cfg, arrEd)
       else nearDedup(ed, cfg, sharedArrs = Some(arrEd)))
        .localCheckpoint(true)
    val shEd = arrEd.select(col("doc_id"), explode(col("shArr")).as("sh"))
    val cleaned = decontaminate(nd, bench, cfg, docShingles = Some(shEd))
    Seq(arrEd, ed).foreach(_.unpersist(blocking = false))
    val selected = cfg.dsirTarget match {
      case Some(tgt) =>
        val keep = TextOps
          .dsirResampleScalable(cleaned, tgt, cfg.dsirFrac)
          .select(col("doc_id"))
        cleaned.join(keep, Seq("doc_id"), "left_semi")
      case None => cleaned
    }
    withSplit(TextOps.withLangPred(selected))
  }

  /** Corpus summary per (split, pred_lang) — the t12 gate shape. */
  def summary(curated: DataFrame): DataFrame =
    curated.groupBy(col("split"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("split"), col("pred_lang"))

  val t12 = QueryDef(
    "t12_corpus_curate",
    "end-to-end corpus curation: quality→dedup→near-dup→decontam→split",
    (s, dir) => summary(curate(Tables.load(s, dir, "documents"))),
    Some {
      val cfg = default
      s"""WITH corp AS (SELECT * FROM documents WHERE doc_id % ${cfg.benchMod} <> 0),
        bench0 AS (SELECT * FROM documents WHERE doc_id % ${cfg.benchMod} = 0),
        wstat AS (SELECT doc_id, MAX(n) AS mx, CAST(SUM(n) AS BIGINT) AS nt
                  FROM (SELECT doc_id, w, COUNT(*) AS n
                        FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
                              FROM corp) u GROUP BY 1, 2) c GROUP BY 1),
        q AS (SELECT corp.* FROM corp JOIN wstat USING (doc_id)
              WHERE wstat.nt >= ${cfg.minWords}
                AND CAST(wstat.mx AS DOUBLE) / wstat.nt <= ${cfg.maxTopWordFrac}),
        ed AS (SELECT * FROM q
               QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        ${DedupOps.minhashPairsSql("ed", cfg.nearDupMinJac, "nd_")},
        nd AS (SELECT * FROM ed
               WHERE doc_id NOT IN (SELECT doc_b FROM nd_pairs)),
        ${DedupOps.shingleSqlFrom("nd", "c_")},
        ${DedupOps.shingleSqlFrom("bench0", "b_")},
        contam AS (SELECT DISTINCT doc_id FROM (
                     SELECT c.doc_id, b.doc_id AS bench_id, COUNT(*) AS n
                     FROM c_sh c JOIN b_sh b USING (sh) GROUP BY 1, 2) p
                   WHERE n >= ${cfg.contamMinShared}),
        clean AS (SELECT * FROM nd
                  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        spl AS (SELECT *, ${TextOps.trainSplitSqlExpr} AS split
                FROM ${TextOps.langPredSql("clean")} lp)
      SELECT split, pred_lang, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(doc_id) AS min_doc
      FROM spl GROUP BY 1, 2 ORDER BY split, pred_lang"""
    })

  val all: Seq[QueryDef] = Seq(t12)
}
