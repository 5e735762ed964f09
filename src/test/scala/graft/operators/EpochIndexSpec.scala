package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-epoch index split (r14 VERDICT "Next" #1) contracts:
  *   - the cross-epoch merge is EXACT over the union of candidates: with
  *     every cell probed and a refine window covering each epoch, the
  *     fan-out equals brute-force top-k over the whole corpus;
  *   - one epoch degenerates to the single-index query;
  *   - within-epoch ingest appends (frozen epoch model), a new epoch
  *     trains fresh.
  */
class EpochIndexSpec extends AnyFunSuite with graft.SparkTestSession {
  private val dir = "/root/testdata/sf0.001"

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-epoch-$tag").toString

  private def collectPairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("q_id"), col("vec_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq

  test("all-cells fan-out over two epochs equals brute-force top-k over the union") {
    val root = tmpRoot("exact")
    val e = AnnOps.embTable(spark, dir)
    // two epochs partitioning the corpus by vec_id parity — each trains
    // its own quantizer/codebooks on its own slice
    EpochIndex.ingest(e.filter(col("vec_id") >= 5 && pmod(col("vec_id"), lit(2)) === 0),
      root, "even")
    EpochIndex.ingest(e.filter(col("vec_id") >= 5 && pmod(col("vec_id"), lit(2)) === 1),
      root, "odd")
    assert(EpochIndex.listEpochs(spark, root) == Seq("even", "odd"))
    // every cell probed + refine window >= epoch size: each leg is exact
    // within its epoch, so the merged top-k must equal global brute force
    val fanout = EpochIndex.searchTopK(spark, dir, root,
      nProbes = 16, topK = 10, refineFactor = 1000000)
    val exact = AnnOps.denseTopK(spark, dir, 10)
      .select(col("q_id"), col("vec_id"), col("rank"))
    assert(collectPairs(fanout) == collectPairs(exact),
      "exact-mode epoch fan-out diverged from brute-force top-k")
    e.unpersist(blocking = false)
  }

  test("an offset-id epoch trains real codebooks (the vec_id<k seed bug)") {
    // Regression pin for the bug the drift rehearsal's epoch leg surfaced:
    // pqCodebooks seeded codes with a literal `vec_id < k`, so an epoch
    // whose ids are all large (every appended batch in a sharded/epoched
    // corpus) trained EMPTY codebooks and its queries returned zero rows
    // — recall exactly 0. The fix seeds with the k smallest ids present.
    val e = AnnOps.embTable(spark, dir)
    val shifted = e.filter(col("vec_id") >= 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("emb"), col("norm"))
    val cb = AnnOps.pqCodebooks(AnnOps.subvectors(shifted))
    assert(cb.count() > 0, "offset-id subvectors trained an empty codebook")
    assert(cb.select(col("s")).distinct().count() == 8,
      "codebook must cover all 8 subspaces")
    // dense-from-0 id spaces keep the exact old seeding (ids 0..15)
    val cbDense = AnnOps.pqCodebooks(AnnOps.subvectors(e))
    assert(cbDense.select(col("j")).distinct().count() == 16)
    assert(cbDense.agg(org.apache.spark.sql.functions.max(col("j"))).head().getLong(0) == 15L)
    e.unpersist(blocking = false)
  }

  test("one epoch degenerates to the single-index query; within-epoch ingest appends") {
    val root = tmpRoot("degen")
    val e = AnnOps.embTable(spark, dir)
    val (half, rest) = (e.filter(col("vec_id") >= 5 && col("vec_id") % 2 === 0),
      e.filter(col("vec_id") >= 5 && col("vec_id") % 2 === 1))
    EpochIndex.ingest(half, root, "a") // trains
    val loc = EpochIndex.epochLoc(root, "a")
    val v1 = IndexManifest.currentVersion(spark, loc)
    EpochIndex.ingest(rest, root, "a") // same epoch: appends, no retrain
    assert(IndexManifest.currentVersion(spark, loc) == v1 + 1,
      "second ingest into one epoch must append one commit")
    // centroids are the epoch's FROZEN model: the append must not retrain
    val single = IndexStore.ivfPqRefinedFromIndex(spark, dir, loc)
    val fanout = EpochIndex.searchTopK(spark, dir, root)
    assert(collectPairs(fanout) == collectPairs(single),
      "single-epoch fan-out must equal the single-index query")
    e.unpersist(blocking = false)
  }

  test("epoch names natural-sort: numeric epochs read chronologically past 9") {
    // r15 ADVICE: lexicographic interleaved "10" < "2"; merge
    // correctness never depended on order, but logs/sweeps/artifacts do.
    val o = EpochIndex.naturalOrder
    assert(o.compare("2", "10") < 0)
    assert(o.compare("10", "2") > 0)
    assert(o.compare("epoch2", "epoch10") < 0)
    assert(o.compare("10", "10") == 0)
    assert(o.compare("1a", "1b") < 0)
    assert(Seq("10", "9", "2", "1").sorted(o) == Seq("1", "2", "9", "10"))
  }

  test("a vec_id present in two epochs occupies one top-k slot (cross-epoch dedup)") {
    // r15 ADVICE: vec_ids are contractually disjoint across epochs, but
    // the merge must not TRUST that — a double-ingested id would occupy
    // two slots and silently displace the 10th real neighbor.
    val root = tmpRoot("dup")
    val e = AnnOps.embTable(spark, dir)
    // epoch "part" = the even half; epoch "full" = EVERYTHING: every
    // even id is double-ingested (the contract violation to absorb)
    EpochIndex.ingest(e.filter(col("vec_id") >= 5 && pmod(col("vec_id"), lit(2)) === 0),
      root, "part")
    EpochIndex.ingest(e.filter(col("vec_id") >= 5), root, "full")
    val fanout = EpochIndex.searchTopK(spark, dir, root,
      nProbes = 16, topK = 10, refineFactor = 1000000)
    val n = fanout.count()
    assert(fanout.select(col("q_id"), col("vec_id")).distinct().count() == n,
      "a (q_id, vec_id) pair surfaced twice across epochs")
    // and exact-mode fan-out still equals global brute force: the
    // duplicate collapses to its (identical) exact score
    val exact = AnnOps.denseTopK(spark, dir, 10)
      .select(col("q_id"), col("vec_id"), col("rank"))
    assert(collectPairs(fanout) == collectPairs(exact))
    e.unpersist(blocking = false)
  }

  test("fan-out is LIST-free once warm: cached epoch set, explicit override, refresh") {
    // r15 VERDICT "What's wrong" #3: every searchTopK paid a LIST one
    // layer above the manifest fast path built to avoid exactly that.
    val root = tmpRoot("cache")
    val e = AnnOps.embTable(spark, dir)
    EpochIndex.ingest(e.filter(col("vec_id") >= 5 && pmod(col("vec_id"), lit(2)) === 0),
      root, "a")
    def fan(eps: Option[Seq[String]] = None) = collectPairs(
      EpochIndex.searchTopK(spark, dir, root,
        nProbes = 16, topK = 10, refineFactor = 1000000, epochs = eps))
    val onlyA = fan()
    // a SECOND process commits epoch "b" (direct build bypasses this
    // JVM's ingest note): the warm cache keeps serving without a LIST —
    // stale by design until the deployer refreshes or passes the set
    IndexStore.buildIvfPqTrained(
      e.filter(col("vec_id") >= 5 && pmod(col("vec_id"), lit(2)) === 1),
      EpochIndex.epochLoc(root, "b"))
    assert(fan() == onlyA, "warm cache must not re-LIST per query")
    // an explicit epoch list bypasses cache AND list entirely
    val exact = collectPairs(AnnOps.denseTopK(spark, dir, 10)
      .select(col("q_id"), col("vec_id"), col("rank")))
    assert(fan(Some(Seq("a", "b"))) == exact)
    // refresh re-LISTs once: the new epoch joins the default fan-out
    EpochIndex.refreshEpochs(root)
    assert(fan() == exact)
    e.unpersist(blocking = false)
  }

  test("searchTopKPruned: wide margin is full-fan-out parity; hostile margin prunes") {
    // The opt-in centroid-bound epoch prune (r15 VERDICT "What's wrong"
    // #2): with a margin that can never bind (cosines live in [-1,1], so
    // +2 clears any floor) every epoch is visited and the merged top-k
    // must equal the full fan-out; with a margin that always binds (-2)
    // only the first (best-centroid) epoch is read — the prune decision
    // is auditable via the returned visited list.
    val root = tmpRoot("prune")
    val e = AnnOps.embTable(spark, dir)
    EpochIndex.ingest(e.filter(col("vec_id") >= 5 && pmod(col("vec_id"), lit(2)) === 0),
      root, "even")
    EpochIndex.ingest(e.filter(col("vec_id") >= 5 && pmod(col("vec_id"), lit(2)) === 1),
      root, "odd")
    val (full, visitedAll) = EpochIndex.searchTopKPruned(spark, dir, root,
      nProbes = 16, topK = 10, refineFactor = 1000000, margin = 2.0)
    assert(visitedAll.sorted == Seq("even", "odd"))
    val exact = AnnOps.denseTopK(spark, dir, 10)
      .select(col("q_id"), col("vec_id"), col("rank"))
    assert(collectPairs(full) == collectPairs(exact),
      "unpruned (wide-margin) merge diverged from the full fan-out")
    val (_, visitedOne) = EpochIndex.searchTopKPruned(spark, dir, root,
      nProbes = 16, topK = 10, refineFactor = 1000000, margin = -2.0)
    assert(visitedOne.size == 1,
      s"hostile margin must prune to the best-centroid epoch, visited $visitedOne")
    e.unpersist(blocking = false)
  }

  test("maintainEpoch trigger order: none, rebalance, retrain, new-epoch") {
    // The epoch-level decision ladder (r15 VERDICT Missing #2): within
    // the epoch the normal rungs act; when even the retrain leaves the
    // re-probed recall under the floor the verdict is ADVISORY
    // "new-epoch" — recommended, never auto-cut (the k-bump precedent).
    val root = tmpRoot("maint")
    val e = AnnOps.embTable(spark, dir)
    val corpus = e.filter(col("vec_id") >= 5)
    def freshEpoch(name: String): String = {
      EpochIndex.ingest(corpus, root, name); name
    }
    assert(EpochIndex.maintainEpoch(spark, dir, root, freshEpoch("n"),
      skewBound = 1e9, recallFloor = 0.0) == "none")
    assert(EpochIndex.maintainEpoch(spark, dir, root, freshEpoch("r"),
      skewBound = 0.0, recallFloor = 0.0) == "rebalance")
    assert(EpochIndex.maintainEpoch(spark, dir, root, freshEpoch("x"),
      skewBound = 1e9, recallFloor = 1.01) == "new-epoch")
    // retrain that CLEARS the floor stays "retrain": degrade an epoch by
    // training its quantizer on a 20-vector first batch then appending
    // the rest against that model; the retrain (trained on the full live
    // set) recovers. Both probes are deterministic (hash-seeded k-means,
    // fixed data), so the midpoint floor separates them reproducibly.
    def degraded(name: String): String = {
      EpochIndex.ingest(corpus.filter(col("vec_id") < 25), root, name)
      EpochIndex.ingest(corpus.filter(col("vec_id") >= 25), root, name)
      name
    }
    val locD = EpochIndex.epochLoc(root, degraded("d"))
    val (pre, _) = IndexStore.ivfRecallProbe(spark, dir, locD)
    IndexStore.retrainIvfPq(e, locD)
    val (post, _) = IndexStore.ivfRecallProbe(spark, dir, locD)
    assert(post > pre,
      s"fixture no longer degrades: pre $pre vs post-retrain $post")
    val floor = (pre + post) / 2
    assert(EpochIndex.maintainEpoch(spark, dir, root, degraded("d2"),
      skewBound = 1e9, recallFloor = floor) == "retrain")
    e.unpersist(blocking = false)
  }

  test("foldShortlist keys the prune floor by vec_id: a duplicate id holds ONE slot") {
    // r16 ADVICE: the floor counted duplicate vec_ids as distinct
    // entries, overstating the k-th best and making the skip bound
    // over-aggressive exactly when the disjoint-id contract is violated.
    val b = scala.collection.mutable.Map[Long, Double]()
    EpochIndex.foldShortlist(b, 1L, 0.9, 2)
    EpochIndex.foldShortlist(b, 1L, 0.8, 2) // same id, worse: ignored
    assert(b == Map(1L -> 0.9))
    EpochIndex.foldShortlist(b, 1L, 0.95, 2) // same id, better: max-merged
    assert(b == Map(1L -> 0.95))
    // floor requires topK DISTINCT ids: one id is not a full shortlist
    assert(b.size < 2)
    EpochIndex.foldShortlist(b, 2L, 0.5, 2)
    assert(b.values.min == 0.5) // the honest floor — not 0.9/0.95 twice
    // trim keeps the topK best distinct ids
    EpochIndex.foldShortlist(b, 3L, 0.7, 2)
    assert(b == Map(1L -> 0.95, 3L -> 0.7))
    // a trimmed id re-arriving higher re-enters as a fresh candidate
    EpochIndex.foldShortlist(b, 2L, 0.99, 2)
    assert(b == Map(2L -> 0.99, 1L -> 0.95))
  }

  test("epoch cache bounded staleness: maxStaleMs=0 re-LISTs, default stays warm") {
    // r16 VERDICT Missing #2: a warm reader JVM never saw a cross-
    // process epoch cut until refreshEpochs; maxStaleMs bounds that.
    val root = tmpRoot("ttl")
    val e = AnnOps.embTable(spark, dir)
    EpochIndex.ingest(e.filter(col("vec_id") >= 5 && pmod(col("vec_id"), lit(2)) === 0),
      root, "a")
    assert(EpochIndex.resolveEpochs(spark, root) == Seq("a"))
    // a SECOND process commits epoch "b" (direct build bypasses this
    // JVM's ingest note)
    IndexStore.buildIvfPqTrained(
      e.filter(col("vec_id") >= 5 && pmod(col("vec_id"), lit(2)) === 1),
      EpochIndex.epochLoc(root, "b"))
    // default contract unchanged: warm cache stays stale
    assert(EpochIndex.resolveEpochs(spark, root) == Seq("a"))
    // a zero bound forces the re-LIST: the cut is visible within the
    // bound with no deployer refresh
    assert(EpochIndex.resolveEpochs(spark, root, maxStaleMs = 0L) == Seq("a", "b"))
    // the re-LIST updated the monotone cache: default resolves see it now
    assert(EpochIndex.resolveEpochs(spark, root) == Seq("a", "b"))
    // a bound that has not elapsed serves the warm cache (no LIST storm)
    assert(EpochIndex.resolveEpochs(spark, root, maxStaleMs = 3600000L) == Seq("a", "b"))
    e.unpersist(blocking = false)
  }

  test("searchTopKPruned prefetch=2: exact-mode parity; hostile margin visits exactly 2 of 3") {
    // r16 VERDICT Next #2: the first P centroid-ranked legs run
    // concurrently and are unconditionally visited; the gate applies
    // from leg P+1 — visited is a superset of the serial prune's.
    val root = tmpRoot("prefetch")
    val e = AnnOps.embTable(spark, dir)
    (0 to 2).foreach(i => EpochIndex.ingest(
      e.filter(col("vec_id") >= 5 && pmod(col("vec_id"), lit(3)) === i),
      root, i.toString))
    val (full, visitedAll) = EpochIndex.searchTopKPruned(spark, dir, root,
      nProbes = 16, topK = 10, refineFactor = 1000000, margin = 2.0,
      prefetch = 2)
    assert(visitedAll.sorted == Seq("0", "1", "2"))
    val exact = AnnOps.denseTopK(spark, dir, 10)
      .select(col("q_id"), col("vec_id"), col("rank"))
    assert(collectPairs(full) == collectPairs(exact),
      "prefetch=2 exact-mode merge diverged from brute force")
    // hostile margin: serial visits 1, prefetch=2 visits its prefix of 2
    val (_, v1) = EpochIndex.searchTopKPruned(spark, dir, root,
      nProbes = 16, topK = 10, refineFactor = 1000000, margin = -2.0)
    assert(v1.size == 1)
    val (_, v2) = EpochIndex.searchTopKPruned(spark, dir, root,
      nProbes = 16, topK = 10, refineFactor = 1000000, margin = -2.0,
      prefetch = 2)
    assert(v2.size == 2,
      s"prefetch=2 must visit exactly its concurrent prefix, visited $v2")
    // and the prefetched prefix is the top-2 centroid-ranked epochs —
    // the serial prune's first leg is the prefix's first element
    assert(v2.head == v1.head)
    // a failing prefetched leg: the top-ranked epoch lost its codes, so
    // its leg raises while its sibling runs; the error surfaces, and the
    // sibling's jobs are cancelled and awaited rather than left running
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"${EpochIndex.epochLoc(root, v1.head)}/codes"))
    intercept[org.apache.spark.sql.AnalysisException] {
      EpochIndex.searchTopKPruned(spark, dir, root,
        nProbes = 16, topK = 10, refineFactor = 1000000, margin = -2.0,
        prefetch = 2)
    }
    org.apache.spark.ListenerBusProbe.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    e.unpersist(blocking = false)
  }

  test("maintainEpochs maxProbesPerTick rotation covers every epoch across ticks") {
    val root = tmpRoot("rotate")
    val e = AnnOps.embTable(spark, dir)
    val corpus = e.filter(col("vec_id") >= 5)
    (0 to 2).foreach(i => EpochIndex.ingest(
      corpus.filter(col("vec_id") % 3 === i), root, i.toString))
    def probedAt(tick: Int): Seq[String] =
      EpochIndex.maintainEpochs(spark, dir, root,
          skewBound = 1e9, recallFloor = 0.0, maxProbesPerTick = 1, tick = tick)
        .collect { case (ep, v) if v != "skipped" => ep }
    val probed = (0 to 2).map(probedAt)
    assert(probed.forall(_.size == 1), s"one probe per tick, got $probed")
    assert(probed.flatten.toSet == Set("0", "1", "2"),
      s"rotation must cover every epoch within K ticks, got $probed")
    // every epoch still gets a verdict row each tick (skipped included)
    val full = EpochIndex.maintainEpochs(spark, dir, root,
      skewBound = 1e9, recallFloor = 0.0, maxProbesPerTick = 1, tick = 0)
    assert(full.map(_._1) == Seq("0", "1", "2"))
    assert(full.count(_._2 == "skipped") == 2)
    e.unpersist(blocking = false)
  }

  test("maintainEpochs sweeps every epoch in natural order with one verdict each") {
    // the root-level sweep: one call per root, (epoch, verdict) pairs in
    // natural-sorted order (numeric epochs chronological), thresholds
    // passed through to the per-epoch ladder
    val root = tmpRoot("sweep")
    val e = AnnOps.embTable(spark, dir)
    val corpus = e.filter(col("vec_id") >= 5)
    EpochIndex.ingest(corpus.filter(col("vec_id") % 2 === 0), root, "2")
    EpochIndex.ingest(corpus.filter(col("vec_id") % 2 === 1), root, "10")
    val lax = EpochIndex.maintainEpochs(spark, dir, root,
      skewBound = 1e9, recallFloor = 0.0)
    assert(lax.map(_._1) == Seq("2", "10")) // natural, not lexicographic
    assert(lax.map(_._2) == Seq("none", "none"))
    val strict = EpochIndex.maintainEpochs(spark, dir, root,
      skewBound = 1e9, recallFloor = 1.01)
    assert(strict.map(_._2) == Seq("new-epoch", "new-epoch"))
    e.unpersist(blocking = false)
  }
}
