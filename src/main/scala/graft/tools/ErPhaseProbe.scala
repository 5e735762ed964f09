package graft.tools

import org.apache.spark.sql.functions._

import graft.er.EntityResolution
import graft.graph.GraphAlgs

/** The two adjudications BENCH_ER.json still owed after round 13
  * (VERDICT items 4 and 5):
  *
  *  1. "phases": the capped production chain's 773 s at 100× broken into
  *     block → score+threshold → connected-components wall times, so the
  *     next scale decision (distributed-CC cutover? feature pruning in
  *     the score stage?) is data- rather than total-driven. Stages are
  *     cached at the boundaries so each timing bills one stage.
  *  2. "family": [[EntityResolution.blockPairsByFamily]] per scale — the
  *     capped pairs/label rise (456 → 421 → 622) attributed to its
  *     blocking-key family. The vocabulary's word channel is entity-local
  *     (df ≤ 3 after the hot corp/inc tokens leave), so the curve lives
  *     in the char-3-gram channel; splitting out digit-bearing grams
  *     tests the saturation hypothesis: entity NUMBERS share 3-grams at
  *     a rate that grows with corpus size yet stays under the 1000 cap,
  *     so pairs-per-digit-gram grow quadratically until the cap bites.
  *
  * Merged into BENCH_ER.json (key-replaced, idempotent) beside the
  * committed r13 curve. Usage: ErPhaseProbe [outPath]; env
  * SPARK_GRAFT_ER_SCALES (default "1,10,100").
  */
object ErPhaseProbe {
  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("BENCH_ER.json")
    val scales = sys.env.getOrElse("SPARK_GRAFT_ER_SCALES", "1,10,100")
      .split(',').map(_.trim.toInt).toSeq
    val spark = ToolSession.local()
    def secs[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = body
      ((System.nanoTime() - t0) / 1e9, r)
    }

    val phaseRows = new scala.collection.mutable.ArrayBuffer[String]
    val famRows = new scala.collection.mutable.ArrayBuffer[String]
    val digitRows = new scala.collection.mutable.ArrayBuffer[String]
    for (l <- scales) {
      val lbl = ErLoadProbe.labels(spark, l).cache()
      val nLabels = lbl.count()

      // ---- family attribution (capped, the production default)
      val fams = EntityResolution.blockPairsByFamily(lbl)
      val famJson = fams.map { case (f, n) =>
        s""""$f":{"pairs":$n,"pairs_per_label":${f"${n.toDouble / nLabels}%.2f"}}"""
      }.mkString(",")
      famRows += s"""{"scale":$l,"labels":$nLabels,$famJson}"""
      println(s"[erphase] scale $l family: ${famRows.last}")
      // flush family BEFORE the phase leg: a phase-stage failure at the
      // largest scale must not lose the attribution rows
      ArtifactJson.merge(outPath, "family",
        s"""{"what":"capped candidate pairs by blocking-key family (word tokens / char 3-grams / digit-bearing 3-grams alone); families overlap so rows need not sum to the distinct union","rows":[${famRows.mkString(",")}]}""")

      // ---- phase split of the capped chain (block -> score -> CC),
      // persisted at stage boundaries so each wall time is one stage;
      // DISK_ONLY — the 100x blocked set is 227M rows, heap caching OOMs
      val (tBlock, (blocked, nBlocked)) = secs {
        // production blocking — since r16 that includes the pure-digit-
        // gram drop by default (the measured promotion; the policy-OFF
        // side is re-measured below as the digit_policy A/B baseline)
        val b = EntityResolution.blockPairs(lbl)
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        (b, b.count())
      }
      val (tScore, edges) = secs {
        // the PRODUCTION scorer (unpruned — see the scorePairs
        // docstring's measured negative), run FIRST so any cold-read
        // bias on the persisted blocked set lands on this leg, not on
        // the variant it is compared against
        val e = EntityResolution.scorePairs(blocked, lbl)
          .filter(col("score") >= 0.6)
          .select(col("id_a"), col("id_b"))
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        e.count(); e
      }
      // A/B on the same run/machine/heap: the opt-in cheap-bound
      // levenshtein prune — what it would buy (or cost) at this scale,
      // free of cross-run machine drift. r15 verdict: 2-3.9x SLOWER at
      // every scale on this vocabulary, which is why production reverted
      // to the plain scorer.
      val (tScorePruned, _) = secs {
        EntityResolution.scorePairs(blocked, lbl, pruneBelow = Some(lit(0.6)))
          .filter(col("score") >= 0.6).count()
      }
      val (tCc, nClusters) = secs {
        GraphAlgs.connectedComponents(edges, "id_a", "id_b")
          .select(col("component")).distinct().count()
      }
      blocked.unpersist(blocking = true)
      edges.unpersist(blocking = true)

      // ---- digit-gram policy A/B (r15 VERDICT Next #5): attack the
      // candidate COUNT, not the per-pair cost — the prune A/B proved
      // per-pair cost is spent, and the family attribution put the
      // growth in digit-bearing grams. The production chain above runs
      // the policy ON (the r16 default); this leg re-measures the OFF
      // side on the same run/machine/heap so the A/B stays same-run.
      // Labeled-ground-truth recall under the policy is pinned
      // separately (ErEvalSpec).
      val (tBlockOff, (blockedOff, nOff)) = secs {
        val b = EntityResolution.blockPairs(lbl, dropPureDigitGrams = false)
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        (b, b.count())
      }
      val (tScoreOff, _) = secs {
        EntityResolution.scorePairs(blockedOff, lbl)
          .filter(col("score") >= 0.6).count()
      }
      blockedOff.unpersist(blocking = true)
      lbl.unpersist(blocking = true)
      digitRows +=
        s"""{"scale":$l,"labels":$nLabels,""" +
        s""""policy_off":{"pairs":$nOff,"pairs_per_label":${f"${nOff.toDouble / nLabels}%.2f"},"block_sec":${f"$tBlockOff%.2f"},"score_threshold_sec":${f"$tScoreOff%.2f"}},""" +
        s""""policy_on":{"pairs":$nBlocked,"pairs_per_label":${f"${nBlocked.toDouble / nLabels}%.2f"},"block_sec":${f"$tBlock%.2f"},"score_threshold_sec":${f"$tScore%.2f"}}}"""
      println(s"[erphase] scale $l digit policy: ${digitRows.last}")
      ArtifactJson.merge(outPath, "digit_policy",
        s"""{"what":"blockPairs dropPureDigitGrams A/B: candidate pairs + block/score wall with PURE-digit 3-grams dropped from the gram blocking channel (policy_on, the r16 production default — the measured promotion) vs kept (policy_off), same run/machine/heap; digit-BEARING boundary grams and the word channel are untouched either way. The policy targets the attributed saturation family (BENCH_ER family gram_digit/gram_pure_digit); ErEvalSpec pins labeled match-recall/separation floors with the policy ON","rows":[${digitRows.mkString(",")}]}""")
      phaseRows +=
        s"""{"scale":$l,"labels":$nLabels,"block_sec":${f"$tBlock%.2f"},""" +
        s""""score_threshold_sec":${f"$tScore%.2f"},""" +
        s""""score_threshold_pruned_sec":${f"$tScorePruned%.2f"},""" +
        s""""cc_sec":${f"$tCc%.2f"},"clusters":$nClusters}"""
      println(s"[erphase] scale $l phases: ${phaseRows.last}")

      // incremental flush: a late-scale failure keeps earlier rows
      ArtifactJson.merge(outPath, "phases",
        s"""{"what":"capped production chain wall time split block -> score+threshold(0.6) -> connected components; stage outputs persisted (DISK_ONLY) at the boundaries so each timing bills one stage. Since r16 the production chain runs the pure-digit-gram drop (the promoted default; the policy-OFF side lives in digit_policy). score_threshold_sec = the production (unpruned) scorer, run first so cold-read bias lands on it (the bias can be large — compare the same-run warm policy_off score in digit_policy before reading a round-over-round phase delta as code); score_threshold_pruned_sec = same-run A/B of the opt-in cheap-bound levenshtein prune, measured SLOWER at every scale on this vocabulary (the r15 negative result that kept production unpruned)","rows":[${phaseRows.mkString(",")}]}""")
    }
    println(s"[erphase] wrote phases+family -> $outPath")
    spark.stop()
  }
}
