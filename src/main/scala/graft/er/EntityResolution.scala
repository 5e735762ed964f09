package graft.er

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.graph.GraphAlgs
import graft.sim.SimilarityJoin

/** Entity resolution (SURVEY §2.4 J7 — the reference's `dedupe`-library
  * pipeline, data_integration.ipynb c37-c49), decomposed into a
  * deterministic distributed pipeline:
  *
  *   token blocking → pairwise similarity scoring → threshold →
  *   connected components → cluster ids → best-label election →
  *   edge weights
  *
  * The reference's learned blocking + logistic scoring is stochastic;
  * per SURVEY §7.4 risk 1 we replace it with explicit features
  * (token Jaccard + normalized Levenshtein) and per-type thresholds
  * (reference range 0.55-0.79, c44), and evaluate against labeled
  * match/distinct pairs rather than cloning cluster ids.
  *
  * Scale: blocking is an inverted-index self-join (no cross join);
  * scoring runs only on blocked candidates; the transitive closure is
  * [[GraphAlgs.connectedComponents]] — a driver union-find over the
  * thresholded edges up to its driver limit, GraphX CC (O(E) per
  * iteration, log-ish rounds) above it — each stage is a bounded shuffle.
  */
object EntityResolution {

  /** Types that additionally get the character-qgram feature/blocking
    * channel: org/product/person names vary by concatenation glitches and
    * possessives ("ncscuk", "kimsukys") that word tokens can't see. GPE
    * stays word-only — country names are char-wise near ("iran"/"iraq")
    * while semantically distinct, and the labeled ground truth punishes
    * char merging there (measured on ner_training_GPE.json).
    */
  val charTypes: Set[String] = Set("ORG", "PRODUCT", "PERSON")

  /** Max contracted-band edges the elbow sweep closes driver-side; above
    * this the step falls back to distributed connected components.
    * Overridable per-sweep so tests exercise the distributed branch with
    * fixture-sized data (round-6 VERDICT item 8: both branches must be
    * CI-covered, label-identical).
    */
  val DefaultDriverCcLimit = 1000000

  /** Plural/possessive fold: strip one trailing 's' from each token >2
    * chars ("dprks" -> "dprk", "centres" -> "centre").
    */
  private def stripS(c: Column): Column =
    concat_ws(" ", transform(split(c, " "),
      t => when(t.like("%s") && length(t) > 2, t.substr(lit(1), length(t) - 1))
        .otherwise(t)))

  /** Candidate pairs within a type: (a) shared plural-folded word token —
    * a strict superset of raw shared-token blocking; (b) for
    * [[charTypes]], shared character 3-gram. BOTH channels carry the
    * document-frequency cap on hot keys (same skew guard as the dedup
    * joins — a token/gram occurring in more than `gramDfCap` labels is
    * dropped from blocking, not from scoring): a corpus where 100k ORG
    * labels share "inc" would otherwise put O(df²) pairs through one
    * skewed join task on the word channel (r10 review finding — the cap
    * used to guard only grams). Input: (id: Long, label: String,
    * type: String).
    *
    * `dropPureDigitGrams` (r15 VERDICT Next #5; DEFAULT ON since r16 on
    * the measured BENCH_ER `digit_policy` A/B): PURE-digit 3-grams
    * ("123") are the attributed saturation channel on digit-heavy
    * vocabularies — every entity number shares its interior grams with
    * a quadratic number of other entities while each gram's df stays
    * under the cap, so candidates grow super-linearly through keys that
    * carry almost no identity signal. The policy drops only the
    * pure-digit grams; digit-BEARING boundary grams ("y12") keep the
    * version-number recall hook, and the word channel is untouched.
    * Measured same-run at 1×/10×/100×, in BOTH A/B orderings (BENCH_ER
    * `digit_policy`): at 1× the emitted pair set is IDENTICAL (every
    * pure-digit-gram pair is also discoverable through another key); at
    * 100× candidates bend 622→248 pairs/label and the block+score wall
    * reads ~107 s with the policy on in both orderings vs 266–310 s
    * with it off (2.5–2.9× — pair counts are exact; small-scale wall
    * deltas are cold-read-bias-dominated and flip with the ordering).
    * ErEvalSpec pins the labeled match-recall/separation floors on BOTH
    * branches. Opt OUT (= false) for vocabularies where entity identity
    * rides digit strings: on the probe's synthetic EntityN-style
    * vocabulary the policy shifts the 100× cluster count 30 494→49 568
    * (near-identical entity numbers discoverable ONLY through digit
    * grams leave blocking) — on such corpora the drop is a semantic
    * choice, not just a cost one.
    */
  def blockPairs(labels: DataFrame, gramDfCap: Int = 1000,
      dropPureDigitGrams: Boolean = true): DataFrame =
    blockSelfJoin(capHotKeys(wordKeys(labels), gramDfCap))
      .union(blockSelfJoin(
        capHotKeys(gramKeys(labels, dropPureDigitGrams), gramDfCap)))
      .distinct()

  private def blockSelfJoin(keys: DataFrame): DataFrame =
    keys.as("a").join(keys.as("b"),
        col("a.type") === col("b.type") && col("a.tok") === col("b.tok") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("a.type").as("type"))

  private def capHotKeys(keys: DataFrame, gramDfCap: Int): DataFrame = {
    val hot = keys.groupBy(col("type"), col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") > gramDfCap).select(col("type"), col("tok"))
    keys.join(hot, Seq("type", "tok"), "left_anti")
  }

  private def wordKeys(labels: DataFrame): DataFrame =
    labels.select(col("id"), col("type"),
      explode(array_distinct(SimilarityJoin.whitespaceTokens(stripS(lower(col("label")))))).as("tok"))

  private def gramKeys(labels: DataFrame,
      dropPureDigit: Boolean = false): DataFrame = {
    val keys = labels.filter(col("type").isin(charTypes.toSeq: _*))
      .select(col("id"), col("type"),
        explode(array_distinct(SimilarityJoin.qgrams(lower(col("label"))))).as("tok"))
    if (dropPureDigit) keys.filter(!col("tok").rlike("^[0-9]+$")) else keys
  }

  /** Per-corpus `dropPureDigitGrams` opt-out ADVISORY (r16 VERDICT Next
    * #4 — the `maintainEpoch` advisory pattern applied to blocking): the
    * policy's measured boundary of applicability is "does entity
    * identity ride digit strings on THIS corpus", and the direct reading
    * is the fraction of the candidate-pair union reachable ONLY through
    * pure-digit grams — exactly the pairs the policy removes from
    * blocking. Two [[blockPairs]] counts (policy on/off, production
    * capping) price it; fraction above `bound` verdicts
    * "digit-identity-opt-out" (run with `dropPureDigitGrams = false`),
    * else "policy-safe". ADVISORY only: it recommends, the deployer
    * flips the knob ([[resolve]]'s `dropPureDigitGrams`). On the
    * reference vocabulary the removed set is empty at 1× (BENCH_ER
    * `digit_policy`: identical pair sets) → policy-safe; on a synthetic
    * digit-identity vocabulary ("A1234"-style, numbers glued to distinct
    * prefixes) the only path between co-numbered labels is the pure-digit
    * gram → opt-out (both pinned by ErEvalSpec).
    */
  final case class BlockingAdvisory(verdict: String, droppedPairs: Long,
      totalPairs: Long, fraction: Double)

  def blockingAdvisory(labels: DataFrame, gramDfCap: Int = 1000,
      bound: Double = 0.05): BlockingAdvisory = {
    val off = blockPairs(labels, gramDfCap, dropPureDigitGrams = false).count()
    val on = blockPairs(labels, gramDfCap, dropPureDigitGrams = true).count()
    val dropped = math.max(0L, off - on)
    val frac = if (off == 0L) 0.0 else dropped.toDouble / off
    BlockingAdvisory(
      if (frac > bound) "digit-identity-opt-out" else "policy-safe",
      dropped, off, frac)
  }

  /** Feature column names shared by the threshold scorer and the learned
    * (spark.ml) scorer — see [[withFeatures]].
    */
  val featureCols: Array[String] =
    Array("f_word_jac", "f_lev_sim", "f_plural_eq", "f_gram_jac", "f_is_char")

  /** Pairwise similarity FEATURES on lowercase labels (the shared basis of
    * both scorers):
    *  - f_word_jac: token-set Jaccard;
    *  - f_lev_sim: 1 − levenshtein/maxlen;
    *  - f_plural_eq: 1.0 when the stripS-folded labels are equal;
    *  - f_gram_jac: character 3-gram Jaccard;
    *  - f_is_char: 1.0 for [[charTypes]] (lets a learned model weight the
    *    gram channel per type family, mirroring the threshold scorer's
    *    type dispatch).
    * Input pairs: (id_a, id_b, type); output adds label_a/label_b + the
    * feature columns.
    */
  /** Labels up to this row count take the precomputed-feature BROADCAST
    * path in [[withFeatures]]; above it the original narrow per-pair
    * form runs (value-identical, spec-pinned). ~2M rows of (label +
    * token/gram arrays) ≈ hundreds of MB — the executor-memory bound,
    * the [[graft.operators.DedupOps]] broadcastRowLimit convention.
    */
  val FeatureBroadcastLabelLimit: Int = 2000000

  /** Byte companion to [[FeatureBroadcastLabelLimit]] (r14 VERDICT
    * "What's wrong" #1: rows alone guard a BYTE hazard — the hoisted
    * side carries three derived arrays per row, so broadcast bytes per
    * label vary ~10× with label length; 2M long PRODUCT labels could
    * overflow an executor that 2M short GPE labels would not). The
    * estimate is `rows × (overhead + perChar × avg label length)` from
    * one cheap probe agg; at the defaults the 2M row limit carries
    * avg-≤26-char labels (2e6·(120+16·26) ≈ 1.07 GiB), and longer
    * vocabularies fall back earlier.
    */
  val FeatureBroadcastByteLimit: Long = 1L << 30

  /** Per-row estimate constants for the hoisted broadcast side: ~120 B
    * of row/array scaffolding + ~16 B per label char (label + folded ≈
    * 2×, tokens ≈ 1×, 3-grams ≈ 3× chars, plus per-element headers).
    */
  private val FeatureRowOverheadBytes = 120L
  private val FeatureBytesPerLabelChar = 16L

  /** Row-count AND estimated-byte probe for the hoisted broadcast side —
    * ONE bounded agg (count + avg length over at most rowLimit+1 rows).
    */
  private[graft] def featureBroadcastFits(l: DataFrame, rowLimit: Int,
      byteLimit: Long): Boolean = {
    val probeN = // +1 without Int overflow at a no-limit setting
      math.min(rowLimit.toLong + 1L, Int.MaxValue.toLong).toInt
    val r = l.limit(probeN)
      .agg(count(lit(1)), coalesce(avg(length(col("label"))), lit(0.0))).head()
    val (n, avgLen) = (r.getLong(0), r.getDouble(1))
    n <= rowLimit &&
      n * (FeatureRowOverheadBytes +
        FeatureBytesPerLabelChar * math.ceil(avgLen).toLong) <= byteLimit
  }

  def withFeatures(pairs: DataFrame, labels: DataFrame): DataFrame =
    withFeatures(pairs, labels, FeatureBroadcastLabelLimit)

  /** Pairwise features with the per-label work HOISTED across the join:
    * tokenization, q-grams, and the plural fold are per-LABEL quantities,
    * and candidate pairs outnumber labels by ~400× on the measured curve
    * (BENCH_ER: 421-622 pairs/label) — Catalyst does not hoist
    * expressions across a join, so the original per-pair form multiplied
    * the string work by that factor (the r14 phase split named scoring
    * as 75% of the 100× chain). Values are EXACTLY the per-pair
    * originals: same expressions, same inputs, evaluated earlier.
    *
    * The hoisted form is only a win when the array-widened label side
    * BROADCASTS (row-count-probed, the DedupOps convention): letting the
    * wide side into a sort-merge join would shuffle the array-laden
    * intermediate for the second key — measured 4× WORSE than the
    * original at 10× (123 s vs 29 s) — so above the limit the narrow
    * per-pair form runs instead. Both branches are value-identical
    * (ErEvalSpec pins the forced fallback).
    */
  private[graft] def withFeatures(pairs: DataFrame, labels: DataFrame,
      broadcastLabelLimit: Int,
      broadcastByteLimit: Long = FeatureBroadcastByteLimit): DataFrame = {
    val l = labels.select(col("id"), lower(col("label")).as("label"))
    val joined = if (featureBroadcastFits(l, broadcastLabelLimit, broadcastByteLimit)) {
      val pre = l
        .withColumn("toks",
          array_distinct(SimilarityJoin.whitespaceTokens(col("label"))))
        .withColumn("grams",
          array_distinct(SimilarityJoin.qgrams(col("label"))))
        .withColumn("folded", stripS(col("label")))
      def side(suffix: String) = broadcast(pre.select(
        col("id").as(s"id_$suffix"), col("label").as(s"label_$suffix"),
        col("toks").as(s"toks_$suffix"), col("grams").as(s"grams_$suffix"),
        col("folded").as(s"folded_$suffix")))
      pairs
        .join(side("a"), Seq("id_a"))
        .join(side("b"), Seq("id_b"))
        .withColumn("f_word_jac",
          SimilarityJoin.jaccard(col("toks_a"), col("toks_b")))
        .withColumn("f_plural_eq",
          when(col("folded_a") === col("folded_b"), 1.0).otherwise(0.0))
        .withColumn("f_gram_jac",
          SimilarityJoin.jaccard(col("grams_a"), col("grams_b")))
        .withColumn("f_is_char",
          when(col("type").isin(charTypes.toSeq: _*), 1.0).otherwise(0.0))
        .drop("toks_a", "toks_b", "grams_a", "grams_b", "folded_a", "folded_b")
    } else {
      // huge-vocabulary fallback: narrow joins, per-pair features
      val withLabels = pairs
        .join(l.withColumnRenamed("id", "id_a").withColumnRenamed("label", "label_a"), Seq("id_a"))
        .join(l.withColumnRenamed("id", "id_b").withColumnRenamed("label", "label_b"), Seq("id_b"))
      withLabels
        .withColumn("f_word_jac", SimilarityJoin.jaccard(
          array_distinct(SimilarityJoin.whitespaceTokens(col("label_a"))),
          array_distinct(SimilarityJoin.whitespaceTokens(col("label_b")))))
        .withColumn("f_plural_eq",
          when(stripS(col("label_a")) === stripS(col("label_b")), 1.0).otherwise(0.0))
        .withColumn("f_gram_jac", SimilarityJoin.jaccard(
          array_distinct(SimilarityJoin.qgrams(col("label_a"))),
          array_distinct(SimilarityJoin.qgrams(col("label_b")))))
        .withColumn("f_is_char",
          when(col("type").isin(charTypes.toSeq: _*), 1.0).otherwise(0.0))
    }
    joined.withColumn("f_lev_sim", lit(1.0) -
      levenshtein(col("label_a"), col("label_b")).cast("double") /
        greatest(length(col("label_a")), length(col("label_b"))).cast("double"))
  }

  /** Similarity features + combined score for candidate pairs, all on
    * lowercase:
    *  - word score: 0.5·token-Jaccard + 0.5·(1 − levenshtein/maxlen);
    *  - plural fold: score 1.0 when the stripS-folded labels are equal;
    *  - char score ([[charTypes]] only): 0.5·3-gram-Jaccard + 0.5·lev.
    * Final score = greatest of the applicable features.
    */
  def scorePairs(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val wordScore = col("f_word_jac") * 0.5 + col("f_lev_sim") * 0.5
    val charScore = when(col("f_is_char") === 1.0,
      col("f_gram_jac") * 0.5 + col("f_lev_sim") * 0.5).otherwise(0.0)
    withFeatures(pairs, labels)
      .withColumn("score", greatest(wordScore, col("f_plural_eq"), charScore))
      .drop(featureCols: _*)
  }

  /** The reference's LEARNED scoring option (data_integration.ipynb c41:4
    * trains a dedupe model over labeled pairs; SURVEY J7 maps it to
    * "threshold or logistic model (spark.ml)"): a spark.ml
    * LogisticRegression over the SAME pair features as the threshold
    * scorer, trained on (label_a, label_b, type, is_match) rows — e.g.
    * the reference's ner_training_{TYPE}.json labeling sessions.
    *
    * The model is tiny (5 coefficients); training cost is a handful of
    * L-BFGS passes over the labeled pair set, which is human-labeled and
    * therefore always driver-scale. Scoring stays fully distributed: the
    * feature projection is the same codegen'd column expressions, and the
    * model applies as one dot product per candidate pair.
    */
  def trainPairScorer(labeledPairs: DataFrame):
      org.apache.spark.ml.classification.LogisticRegressionModel = {
    val ids = labeledPairs
      .withColumn("mid", monotonically_increasing_id())
      .withColumn("id_a", col("mid") * 2)
      .withColumn("id_b", col("mid") * 2 + 1)
    val labels = ids.select(col("id_a").as("id"), col("label_a").as("label"), col("type"))
      .union(ids.select(col("id_b"), col("label_b"), col("type")))
    val feats = withFeatures(
      ids.select(col("id_a"), col("id_b"), col("type"), col("is_match")),
      labels)
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(featureCols).setOutputCol("features")
      .transform(feats)
    val fitted = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(100).setRegParam(1e-3)
      .setLabelCol("is_match").setFeaturesCol("features")
      .fit(assembled)
    // Drop the training summary before handing the model out: the
    // summary pins the training DataFrame and its SparkSession, and a
    // downstream transform whose UDF closure captures the model then
    // tries to SERIALIZE the session — which blows up whenever plan
    // canonicalization has materialized the expression's lazy
    // `canonicalized` fields (observed as a suite-order-dependent
    // Task-not-serializable in ErEvalSpec under Spark 4.1, where
    // SparkSession carries the non-serializable ObservationManager).
    // The summary is a training artifact; scoring never reads it.
    // `copy()` deliberately PRESERVES the summary and `setSummary` is
    // private[spark], so clear the bytecode-public var via reflection.
    fitted.getClass.getMethod("trainingSummary_$eq", classOf[Option[_]])
      .invoke(fitted, None)
    fitted
  }

  /** Score candidate pairs with a trained [[trainPairScorer]] model:
    * `score` = P(match) from the fitted sigmoid, on the same [0,1] scale
    * the threshold path uses (cluster with `defaultThreshold = 0.5` for
    * the model's natural decision boundary, or sweep it like c42).
    */
  def scorePairsLearned(pairs: DataFrame, labels: DataFrame,
      model: org.apache.spark.ml.classification.LogisticRegressionModel): DataFrame = {
    val feats = withFeatures(pairs, labels)
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(featureCols).setOutputCol("features")
      .transform(feats)
    model.transform(assembled)
      .withColumn("score",
        org.apache.spark.ml.functions.vector_to_array(col("probability"))(1))
      .drop("features", "rawPrediction", "probability", "prediction")
      .drop(featureCols: _*)
  }

  /** Cluster ids from thresholded pair edges via connected components;
    * singletons keep their own id as cluster. Per-type thresholds like the
    * reference's c44 map. The block+score plan runs once, inside
    * [[GraphAlgs.connectedComponents]]'s edge probe; when no pair passes
    * the threshold it yields no components and every label stays a
    * singleton. `scorer` defaults to the deterministic threshold
    * features; pass a trained logistic model to score with P(match)
    * instead (the learned J7 variant).
    */
  def cluster(labels: DataFrame, thresholds: Map[String, Double],
              defaultThreshold: Double = 0.6,
              scorer: Option[org.apache.spark.ml.classification.LogisticRegressionModel] = None,
              dropPureDigitGrams: Boolean = true): DataFrame = {
    val blocked = blockPairs(labels, dropPureDigitGrams = dropPureDigitGrams)
    val thr = thresholds.foldLeft(lit(defaultThreshold)) {
      case (acc, (t, v)) => when(col("type") === t, v).otherwise(acc)
    }
    val pairs = scorer match {
      case Some(m) => scorePairsLearned(blocked, labels, m)
      case None => scorePairs(blocked, labels)
    }
    val edges = pairs.filter(col("score") >= thr)
      .select(col("id_a"), col("id_b"))
    val comp = GraphAlgs.connectedComponents(edges, "id_a", "id_b")
    labels.join(comp, labels("id") === comp("node_id"), "left")
      .select(col("id"), col("label"), col("type"),
        coalesce(col("component"), col("id")).as("cluster_id"))
  }

  /** A2+A3: per-cluster best label = most frequent, ties to the
    * lexicographically smallest (pins pandas idxmax's first-occurrence
    * nondeterminism, SURVEY §2.5 A3).
    */
  def bestLabels(clustered: DataFrame): DataFrame = {
    val freq = clustered.groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("freq").desc, col("label").asc)
    freq.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("label").as("best_label"), col("freq"))
  }

  /** A1: alert–entity edge weights — the reference's
    * groupby(alert_id, best_label, type).size().rename("weight") (c49).
    * Input ner: (alert_id, id) links raw NER rows to alerts.
    */
  def labelWeights(ner: DataFrame, clustered: DataFrame,
                   best: DataFrame): DataFrame =
    ner.join(clustered, Seq("id"))
      .join(best.select(col("cluster_id"), col("best_label")), Seq("cluster_id"))
      .groupBy(col("alert_id"), col("best_label"), col("type"))
      .agg(count(lit(1)).as("weight"))

  /** A9 (data_integration.ipynb c42:9-13): the reference's elbow/threshold
    * profiling loop — cluster counts per (threshold, type), used to pick
    * the per-type thresholds (c44 range 0.55–0.79). Blocking + scoring run
    * ONCE (cached); the thresholds are then swept DESCENDING and the
    * component assignment is carried forward incrementally: lowering the
    * threshold only ADDS edges, so each step contracts its new edge band
    * through the running assignment and runs connected components over
    * that contracted (component-id, component-id) graph — the union of
    * all the per-step CC inputs is one pass over the full edge set,
    * versus the naive sweep's |thresholds| independent CC jobs over
    * ever-larger edge sets. Component labels stay "min member node id"
    * under contraction (min of mins = global min), so every step's counts
    * are IDENTICAL to a from-scratch CC at that threshold (pinned by
    * ErEvalSpec's cluster() cross-check at the 0.60 operating point).
    * Cluster count per type = components among edge-connected labels +
    * untouched singletons; types never cross-block (blockPairs keys on
    * type), so components are type-pure by construction.
    *
    * A profiling helper, not a hot-path operator: per-step jobs are
    * driver-submitted sequentially, each a bounded shuffle.
    */
  def elbowSweep(labels: DataFrame,
                 thresholds: Seq[Double] = (6 to 17).map(_ * 0.05),
                 driverCcLimit: Int = DefaultDriverCcLimit,
                 dropPureDigitGrams: Boolean = true): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    val scored = scorePairs(
      blockPairs(labels, dropPureDigitGrams = dropPureDigitGrams), labels)
      .select(col("id_a"), col("id_b"), col("type"), col("score")).cache()
    val perType = labels.groupBy(col("type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lbl = labels.select(col("id").as("node_id"), col("type"))

    // running (node_id, component) over edge-touched nodes; grows as the
    // threshold descends. localCheckpoint bounds the per-step lineage.
    // The whole loop runs at candidate-pair-proportional shuffle width
    // (GraphAlgs.loopParts): every per-step join/agg is over data no
    // bigger than the scored pair set, so a fixture-sized sweep stops
    // paying full-width task barriers ~10 times per threshold.
    var comp: Option[DataFrame] = None
    var lastStats: Map[String, (Long, Long)] = Map.empty
    var prevT = Double.PositiveInfinity
    val rows = GraphAlgs.withShufflePartitions(spark,
      GraphAlgs.loopParts(spark, scored.count())) {
      thresholds.sorted.reverse.flatMap { t =>
      val band = scored.filter(col("score") >= t && col("score") < prevT)
        .select(col("id_a"), col("id_b"))
      prevT = t
      // contract the new band through the running assignment: an
      // endpoint already in a component joins as its component label
      val m = (comp match {
        case None => band
        case Some(c) => band
          .join(c.select(col("node_id").as("id_a"), col("component").as("ca")),
            Seq("id_a"), "left")
          .join(c.select(col("node_id").as("id_b"), col("component").as("cb")),
            Seq("id_b"), "left")
          .select(coalesce(col("ca"), col("id_a")).as("id_a"),
            coalesce(col("cb"), col("id_b")).as("id_b"))
      })
      // the contracted band is component-granular — orders of magnitude
      // smaller than the corpus — so the sweep closes up to
      // `driverCcLimit` band edges on the driver (one probe collect per
      // threshold: the fixed per-job cost, not data, dominates this
      // profiling loop). Either path keeps root = min member id, so the
      // running assignment stays label-identical.
      val cc = GraphAlgs.connectedComponents(m, "id_a", "id_b", driverCcLimit)
      if (!cc.isEmpty) {
        val merged = cc.select(col("node_id").as("cnode"), col("component").as("root"))
        val next = (comp match {
          case None => merged.select(col("cnode").as("node_id"), col("root").as("component"))
          case Some(c) =>
            // old nodes: re-root components that merged; new nodes: the
            // band endpoints CC just labeled (minus already-tracked ones)
            val reRooted = c.join(merged, c("component") === col("cnode"), "left")
              .select(col("node_id"), coalesce(col("root"), col("component")).as("component"))
            // a prior component's label is always one of its tracked
            // member node ids (min member), so one anti-join on node_id
            // separates raw new nodes from contracted old components
            val fresh = merged
              .join(c.select(col("node_id").as("cnode")), Seq("cnode"), "left_anti")
              .select(col("cnode").as("node_id"), col("root").as("component"))
            reRooted.union(fresh)
        }).localCheckpoint(true)
        comp.foreach(_.unpersist(blocking = false))
        comp = Some(next)
        // the assignment changed: recompute the per-type stats
        lastStats = comp match {
          case None => Map.empty
          case Some(c) => c.join(lbl, Seq("node_id"))
            .groupBy(col("type"))
            .agg(count(lit(1)).as("v"), countDistinct(col("component")).as("c"))
            .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        }
      } // else: empty band — assignment and therefore stats are unchanged
      perType.toSeq.map { case (tp, n) =>
        val (v, c) = lastStats.getOrElse(tp, (0L, 0L))
        (t, tp, c + (n - v))
      }
    }
    }
    scored.unpersist(blocking = false)
    comp.foreach(_.unpersist(blocking = false))
    rows.toDF("threshold", "type", "n_clusters")
      .orderBy(col("type"), col("threshold"))
  }

  /** Full pipeline: labels + alert links -> (clusters, best, weights).
    * `scorer = Some(model)` switches pair scoring to the learned
    * LogisticRegression variant ([[trainPairScorer]]); the default stays
    * the deterministic threshold path. `dropPureDigitGrams` reaches the
    * blocking policy from the production entry point (r16 ADVICE: the
    * documented opt-out for digit-identity vocabularies was unreachable
    * from here — [[blockingAdvisory]] measures which side a corpus is
    * on).
    *
    * The returned `clustered` frame is CACHED (it feeds `best`, `weights`,
    * and the caller's own reads) — the caller should
    * `clustered.unpersist()` once all three outputs are materialized, as
    * [[graft.pipeline.CyberPipeline.run]] does after its exports.
    */
  def resolve(ner: DataFrame, thresholds: Map[String, Double] = Map(),
              defaultThreshold: Double = 0.6,
              scorer: Option[org.apache.spark.ml.classification.LogisticRegressionModel] = None,
              dropPureDigitGrams: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    val labels = ner.select(col("id"), col("label"), col("type")).distinct()
    val clustered = cluster(labels, thresholds, defaultThreshold, scorer,
      dropPureDigitGrams).cache()
    val best = bestLabels(clustered)
    val weights = labelWeights(ner.select(col("alert_id"), col("id")), clustered, best)
    (clustered, best, weights)
  }
}
