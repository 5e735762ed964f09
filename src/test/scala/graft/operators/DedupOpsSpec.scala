package graft.operators

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup-family scale-shape tests: the stop-shingle cap actually prunes,
  * and d02's verify never re-computes the all-pairs shingle join LSH
  * exists to avoid (VERDICT r01 "What's wrong" #2/#3).
  */
class DedupOpsSpec extends AnyFunSuite with graft.SparkTestSession {

  // doc1..doc4 share ONLY the hot shingle "spam spam spam"; doc5/doc6 are
  // near-identical through unique shingles.
  private lazy val docs = {
    import spark.implicits._
    Seq(
      ("doc1", "spam spam spam alpha one"),
      ("doc2", "spam spam spam beta two"),
      ("doc3", "spam spam spam gamma three"),
      ("doc4", "spam spam spam delta four"),
      ("doc5", "unique quick brown fox jumps"),
      ("doc6", "unique quick brown fox leaps")
    ).toDF("doc_id", "text")
  }

  test("d01 cap: hot shingles are pruned from the pair join, denominators stay uncapped") {
    // "spam spam spam" appears in 4 docs; cap=3 prunes it. Pairs that
    // shared only that shingle disappear; the doc5/doc6 pair survives.
    val capped = DedupOps.ngramJaccardPairs(docs, cap = 3, minJac = 0.0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped == Set(("doc5", "doc6")))

    // uncapped: all C(4,2)=6 spam pairs + (doc5,doc6)
    val full = DedupOps.ngramJaccardPairs(docs, cap = 1000, minJac = 0.0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(full.size == 7 && full.contains(("doc1", "doc2")))

    // denominator check: doc5/doc6 have 3 shingles each, share 2
    // ("unique quick brown", "quick brown fox") => jac = 2/(3+3-2) = 0.5,
    // identical under the cap (per-doc counts are uncapped)
    val jac = DedupOps.ngramJaccardPairs(docs, cap = 3, minJac = 0.0)
      .collect().head.getDouble(2)
    assert(math.abs(jac - 0.5) < 1e-12)
  }

  test("d01 plan: the df cap is a LeftAnti join when hot shingles exist, skipped when none") {
    // cap=3: "spam spam spam" is hot (4 docs) -> anti-join present
    val capped = DedupOps.ngramJaccardPairs(docs, cap = 3).queryExecution.optimizedPlan
    val anti = capped.collect { case j: Join if j.joinType.sql == "LEFT ANTI" => j }
    assert(anti.nonEmpty, capped.toString)
    // default cap: hot set empty -> the anti-join is adaptively skipped
    val plain = DedupOps.ngramJaccardPairs(docs).queryExecution.optimizedPlan
    val none = plain.collect { case j: Join if j.joinType.sql == "LEFT ANTI" => j }
    assert(none.isEmpty, plain.toString)
  }

  test("per-doc cnt broadcast is size-guarded: above the limit the plan shuffles, rows unchanged") {
    def pairs(limit: Long) = DedupOps.ngramJaccardPairs(docs, minJac = 0.0, broadcastLimit = limit)
    // 6 docs < default limit -> cnt joins carry the broadcast hint;
    // limit 0 -> no hint anywhere (planner shuffles at scale)
    assert(pairs(DedupOps.broadcastRowLimit).queryExecution.optimizedPlan
      .toString.contains("strategy=broadcast"))
    assert(!pairs(0L).queryExecution.optimizedPlan.toString.contains("strategy=broadcast"))
    // d02's array-verify form broadcasts nothing by hint (the verify joins
    // key on the candidate pair ids; the planner is free to shuffle)
    assert(!DedupOps.minhashLshPairs(docs, minJac = 0.0).queryExecution
      .optimizedPlan.toString.contains("strategy=broadcast"))
    // results identical on both paths
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows(pairs(0L)) == rows(pairs(DedupOps.broadcastRowLimit)))
  }

  test("d07 bloom path computes exactly d05's relation; the prefilter is in the plan") {
    import spark.implicits._
    // bench = doc_id % 5 == 0; doc 1 overlaps bench doc 5, docs 2/3 are
    // disjoint and must be pruned by the bloom prefilter before the join
    val numDocs = Seq(
      (5L, "the quick brown fox jumps high today"),
      (10L, "a completely different benchmark suite text"),
      (1L, "the quick brown fox jumps low today"),
      (2L, "no shingle overlap lives in this one"),
      (3L, "another fully disjoint corpus document entirely")
    ).toDF("doc_id", "text")
    val sh = DedupOps.shingles(numDocs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = DedupOps.contaminationPairs(sh, benchMod = 5L)
    val bloom = DedupOps.contaminationPairsBloom(sh, benchMod = 5L)
    assert(bloom.schema.fieldNames.toSeq == exact.schema.fieldNames.toSeq)
    assert(rows(bloom) == rows(exact))
    assert(rows(bloom).nonEmpty) // fixture actually exercises the match path
    // the cached-array forms the d05/d07 gates run compute the identical
    // relation (per-doc array_distinct == the row form's pair distinct)
    val arr = DedupOps.shingleArrs(numDocs).cache()
    arr.count()
    assert(rows(DedupOps.contaminationPairsArr(arr, benchMod = 5L)) == rows(exact))
    assert(rows(DedupOps.contaminationPairsBloomArr(arr, benchMod = 5L)) == rows(exact))
    arr.unpersist()
    // the prefilter reaches the plan as a codegen'd filter on the corpus side
    val opt = bloom.queryExecution.optimizedPlan.toString
    assert(opt.contains("bloom_might_contain"), opt)
    // and it actually prunes: disjoint corpus shingles drop before the join
    val bench = sh.filter(col("doc_id") % 5 === 0)
    val bf = bench.select(xxhash64(col("sh")).as("h"))
      .stat.bloomFilter("h", math.max(bench.count(), 1L), 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
    }
    val corp = sh.filter(col("doc_id") % 5 =!= 0)
    val kept = corp.filter(graft.functions.GraftFunctions.bloomMightContain(
      xxhash64(col("sh")), bytes)).count()
    assert(kept < corp.count(), s"bloom kept all $kept corpus shingles")
  }

  test("d08 incremental dedup is bipartite: batch-vs-corpus only, within-batch dups both admitted") {
    import spark.implicits._
    // existing corpus = doc_id % 3 != 0; incoming batch = doc_id % 3 == 0
    val numDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),  // existing
      (2L, "an entirely separate corpus document lives here"), // existing
      (3L, "the quick brown fox jumps over the lazy dog"),  // new, dup of 1 → rejected
      (6L, "completely novel incoming content nothing shared"), // new → admitted
      (9L, "completely novel incoming content nothing shared"), // new, dup of 6 ONLY → admitted
      (12L, "too short"),                                   // new, <3 tokens → admitted
      (15L, "an entirely separate corpus document lives here") // new, dup of 2 → rejected
    ).toDF("doc_id", "text")
    val admitted = DedupOps.incrementalDedupAdmit(numDocs)
      .collect().map(_.getLong(0)).toSeq
    // 3 and 15 match the corpus; 6/9 duplicate each other but NOT the
    // corpus — bipartite semantics admits both (within-batch dedup is d02)
    assert(admitted == Seq(6L, 9L, 12L))
  }

  test("d08 batch-side broadcast is size-guarded: limit 0 shuffles, rows unchanged") {
    import spark.implicits._
    val numDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (6L, "completely novel incoming content nothing shared here")
    ).toDF("doc_id", "text")
    def admit(limit: Long) =
      DedupOps.incrementalDedupAdmit(numDocs, broadcastLimit = limit)
    assert(admit(DedupOps.broadcastRowLimit).queryExecution.optimizedPlan
      .toString.contains("strategy=broadcast"))
    assert(!admit(0L).queryExecution.optimizedPlan.toString.contains("strategy=broadcast"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSeq
    assert(rows(admit(0L)) == rows(admit(DedupOps.broadcastRowLimit)))
    assert(rows(admit(0L)) == Seq(6L))
  }

  test("d09 duplicated spans: cross-doc windows flagged, within-doc repetition ignored") {
    import spark.implicits._
    val boiler = "this license text is shared across many documents here"  // 9 tokens
    val fix = Seq(
      (1L, s"$boiler unique tail one"),          // 12 tokens: shares spans with 2
      (2L, s"$boiler different ending words"),   // 12 tokens
      (3L, "totally original content with no shared spans at all present"), // 10 toks
      (4L, "rep rep rep rep rep rep rep rep rep") // 9 toks: within-doc repeat ONLY
    ).toDF("doc_id", "text")
    val got = DedupOps.duplicatedSpans(fix).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // 12 tokens -> 5 windows; the 9 boilerplate tokens give 2 shared
    // windows (starts 0,1); windows touching the distinct tails differ
    assert(got(1L) == ((5L, 2L, 0.4)), got.toString)
    assert(got(2L) == ((5L, 2L, 0.4)))
    assert(got(3L) == ((3L, 0L, 0.0)))
    // doc 4's windows are identical to each OTHER but occur in one doc
    // only -> not duplicated (within-doc repetition is t09's signal)
    assert(got(4L) == ((2L, 0L, 0.0)))
  }

  test("d02 verify stage is candidate-driven: no all-pairs shingle self-join") {
    val df = DedupOps.minhashLshPairs(docs, minJac = 0.0)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    // The round-1 bug shape: a join keyed ONLY on shingle equality with a
    // doc_id inequality (the quadratic inverted-index self-join). In the
    // candidate-driven shape every join touching `sh` also carries a
    // doc_id EQUALITY from the candidate pair.
    val badShape = joins.filter { j =>
      val cond = j.condition.map(_.toString).getOrElse("")
      j.condition.exists(_.references.exists(_.name == "sh")) && cond.contains(" < ")
    }
    assert(badShape.isEmpty, joins.map(_.condition).mkString("\n"))
    // and it still verifies: doc5/doc6 collide in LSH and score 0.5
    val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(got.exists { case (a, b, j) => a == "doc5" && b == "doc6" && math.abs(j - 0.5) < 1e-12 })
  }

  test("d13: near-dup cluster members share a split the naive rule would leak across") {
    import spark.implicits._
    // docs 0 and 1 are exact dups -> one LSH cluster, canonical 0.
    // md5("0") starts 'cf' (val), md5("1") starts 'c4' (train): the naive
    // t06 per-doc rule splits this cluster across val AND train — the
    // leak d13 exists to prevent. md5("7") starts '8f' (train).
    val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val fix = Seq(
      (0L, dup), (1L, dup),
      (7L, "completely different singleton content with its own words only here")
    ).toDF("doc_id", "text")
    val naive = TextOps.trainSplitColOn(col("doc_id"))
    assert(fix.select(col("doc_id"), naive).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(0L -> "val", 1L -> "train", 7L -> "train")) // the leak is real
    val got = DedupOps.canonicalMap(fix)
      .select(col("doc_id"), col("canonical_id"),
        TextOps.trainSplitColOn(col("canonical_id")).as("split"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == Map(
      0L -> ((0L, "val")), 1L -> ((0L, "val")), // cluster pinned together
      7L -> ((7L, "train"))))                   // singleton keeps its own
  }

  test("d14: cluster cap keeps tail clusters whole and caps the dominant one") {
    import spark.implicits._
    // centroid seeds are the kSeeds smallest present ids; give two
    // orthogonal directions so assignment is unambiguous: cluster A =
    // x-axis {0, 20, 21, 22}, cluster B = y-axis {1, 30}. kSeeds=2 seeds
    // {0, 1}; cap=2: A keeps 2 of 4, B keeps both.
    val emb = Seq(
      (0L, Seq(1.0, 0.0)), (20L, Seq(0.9, 0.1)), (21L, Seq(1.0, 0.05)),
      (22L, Seq(0.95, 0.0)),
      (1L, Seq(0.0, 1.0)), (30L, Seq(0.1, 0.9))
    ).toDF("vec_id", "emb")
    val got = DedupOps.diverseSample(emb, kSeeds = 2, cap = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byCluster = got.groupBy(_._2)
    assert(byCluster(0L).count(_._3) == 2, s"cluster A capped at 2: $got")
    assert(byCluster(0L).size == 4)
    assert(byCluster(1L).forall(_._3), s"tail cluster kept whole: $got")
    // deterministic under repartition
    val rep = DedupOps.diverseSample(emb.repartition(5), kSeeds = 2, cap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.sortBy(_._1).sameElements(rep.sortBy(_._1)))
  }

  test("d14: offset id spaces still seed and sample (no silent empty result)") {
    import spark.implicits._
    // all ids >= 100 — a literal `vec_id < kSeeds` seed rule would find
    // zero seeds here and silently drop the whole corpus from the sample
    // (the r10 review finding); smallest-present seeding must keep it live
    val emb = Seq(
      (100L, Seq(1.0, 0.0)), (120L, Seq(0.9, 0.1)), (121L, Seq(1.0, 0.05)),
      (101L, Seq(0.0, 1.0)), (130L, Seq(0.1, 0.9))
    ).toDF("vec_id", "emb")
    val got = DedupOps.diverseSample(emb, kSeeds = 2, cap = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == 5, s"every vector assigned: ${got.toSeq}")
    assert(got.map(_._2).toSet == Set(100L, 101L), s"seeds are the 2 smallest present ids")
    val byCluster = got.groupBy(_._2)
    assert(byCluster(100L).count(_._3) == 2, s"dominant cluster capped: ${got.toSeq}")
    assert(byCluster(101L).forall(_._3), s"tail cluster kept whole: ${got.toSeq}")
  }

  test("d16: soft-dedup weights give every cluster total mass 1") {
    import spark.implicits._
    // same shape as the d13 fixture: {0,1} one exact-dup cluster, 7 solo
    val dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val fix = Seq(
      (0L, dup), (1L, dup),
      (7L, "completely different singleton content with its own words only here")
    ).toDF("doc_id", "text")
    val got = DedupOps.softDedupWeights(DedupOps.canonicalMap(fix)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      0L -> ((0L, 2L, 0.5)), 1L -> ((0L, 2L, 0.5)),
      7L -> ((7L, 1L, 1.0))))
    // cluster-mass invariant: weights inside each cluster sum to 1
    got.toSeq.groupBy(_._2._1).foreach { case (_, ms) =>
      assert(math.abs(ms.map(_._2._3).sum - 1.0) < 1e-12)
    }
  }

  test("d17: fraction-threshold severity buckets, hand-computed") {
    import spark.implicits._
    val fix = Seq(
      (0L, "alpha beta gamma delta"),       // bench (0 % 97 == 0): 2 shingles
      (1L, "alpha beta gamma delta"),       // 2/2 hit -> 1.0 -> high
      (2L, "alpha beta gamma x y z"),       // 1/4 hit -> 0.25 -> partial
      (3L, "p q r s"),                      // 0/2 -> clean
      (4L, "one two")                       // < 3 tokens: not in the universe
    ).toDF("doc_id", "text")
    val got = DedupOps.contaminationSeverity(fix).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    assert(got == Map(
      1L -> ((2L, 2L, 1.0, "high")),
      2L -> ((4L, 1L, 0.25, "partial")),
      3L -> ((2L, 0L, 0.0, "clean"))), s"got=$got")
  }

  test("capBands: oversized buckets truncate to the cap lowest ids, healthy buckets untouched") {
    import spark.implicits._
    // five byte-identical docs share EVERY band signature: one 5-member
    // bucket per band; the near-dup pair forms its own small buckets
    val docs = ((0L until 5L).map(i =>
        (i, "the quick brown fox jumps over the lazy dog daily")) ++ Seq(
        (10L, "unique quick brown fox jumps high"),
        (11L, "unique quick brown fox leaps high"))).toDF("doc_id", "text")
    val bands = DedupOps.bandsFromArrs(DedupOps.shingleArrs(docs))
    val capped = DedupOps.capBands(bands, cap = 2)
    val sizes = capped.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("n")).collect().map(_.getAs[Long]("n"))
    assert(sizes.forall(_ <= 2L))
    // the survivors of the degenerate mass are exactly the 2 LOWEST ids
    val massLeft = capped.filter(col("doc_id") < 5)
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(massLeft == Set(0L, 1L))
    // identity when no bucket exceeds the cap (the healthy-corpus path)
    assert(DedupOps.capBands(bands, cap = 5).collect().toSet ==
      bands.collect().toSet)
  }

  test("d02 cap semantics: degenerate-bucket pairs bounded to the representatives") {
    import spark.implicits._
    val mass = (0L until 8L).map(i =>
      (i, "copy paste boilerplate text repeated across the whole crawl"))
    val docs = (mass ++ Seq(
      (100L, "unique quick brown fox jumps high"),
      (101L, "unique quick brown fox leaps high"))).toDF("doc_id", "text")
    val arr = DedupOps.shingleArrs(docs).cache()
    arr.count()
    // uncapped (cap above the mass): all C(8,2)=28 mass pairs + the near pair
    assert(DedupOps.minhashLshPairsFromArrs(arr, 0.0, cap = 64).count() == 29L)
    // cap=3: pair work collapses to C(3,2)=3 representative pairs + near
    val capped = DedupOps.minhashLshPairsFromArrs(arr, 0.0, cap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    arr.unpersist(blocking = false)
    val expectMass = for { a <- 0L until 3L; b <- (a + 1) until 3L } yield (a, b)
    assert(capped == expectMass.toSet + ((100L, 101L)))
  }

  test("admit vs a capped corpus bucket: batch docs are verified against the representatives") {
    import spark.implicits._
    // corpus: a degenerate identical mass; batch: one more copy of it and
    // one genuinely new doc. Capping the CORPUS index must not flip the
    // admit decisions: the copy still collides with (and verifies
    // against) the representatives, the new doc still clears.
    val mass = (100L until 130L).map(i =>
      (i, "copy paste boilerplate text repeated across the whole crawl"))
    val oldArr = DedupOps.shingleArrs(mass.toDF("doc_id", "text")).cache()
    oldArr.count()
    val batch = Seq(
      (0L, "copy paste boilerplate text repeated across the whole crawl"),
      (1L, "an actually novel document with fresh words and nothing shared"))
      .toDF("doc_id", "text")
    val admitted = DedupOps.admitNewAgainstOld(
        batch.select(col("doc_id")).distinct(), 2L,
        DedupOps.shingleArrs(batch), oldArr,
        oldBandsPre = Some(DedupOps.capBands(
          DedupOps.bandsFromArrs(oldArr), cap = 4)))
      .collect().map(_.getLong(0)).toSet
    oldArr.unpersist(blocking = false)
    assert(admitted == Set(1L))
  }

  test("d19: exact mass emits a linear star at jac=1.0, near-dups via representatives") {
    import spark.implicits._
    val docs = ((0L until 5L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog daily")) ++ Seq(
      (10L, "unique quick brown fox jumps high"),
      (11L, "unique quick brown fox leaps high"),
      (20L, "completely standalone content nothing else matches"))).toDF("doc_id", "text")
    val got = DedupOps.nearDupPairsGuarded(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the 5-member exact group is 4 star edges (canonical 0 -> member),
    // NOT C(5,2)=10 member pairs; the near-dup pair scores 2/(4+4-2)=1/3
    val (star, near) = got.partition(_._3 == 1.0)
    assert(star.toSet == Set((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0),
      (0L, 4L, 1.0)))
    assert(near.map(t => (t._1, t._2)).toSet == Set((10L, 11L)))
    assert(math.abs(near.head._3 - 1.0 / 3.0) < 1e-9)
  }

  test("d20: identical-vector mass emits a linear star, banding sees representatives") {
    import spark.implicits._
    // vecs 1,2,3: byte-identical; vec 10: the SAME DIRECTION scaled 2x
    // (distinct bytes -> a representative, but guaranteed to share every
    // hyperplane band with the canonical and to verify at cosine exactly
    // 1.0 -- no dependence on the md5 sign matrix); vec 20: orthogonal to
    // that direction (dot = 4-6+6-4 = 0), so NO pair survives the 0.35
    // verify whatever the banding does.
    val e = Seq(
      (1L, Array(1f, 2f, 3f, 4f)),
      (2L, Array(1f, 2f, 3f, 4f)),
      (3L, Array(1f, 2f, 3f, 4f)),
      (10L, Array(2f, 4f, 6f, 8f)),
      (20L, Array(4f, -3f, 2f, -1f))).toDF("vec_id", "embedding")
    val got = DedupOps.embNearDupGuarded(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0), (1L, 3L, 1.0), (1L, 10L, 1.0)),
      s"got=$got")
    // the unguarded d04 plan on the same corpus: the identical mass is
    // quadratic in the OUTPUT itself -- every member pair, plus each
    // member x vec 10
    val naive = DedupOps.embBandPairs(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive == Set((1L, 2L), (1L, 3L), (2L, 3L),
      (1L, 10L), (2L, 10L), (3L, 10L)), s"naive=$naive")
  }

  test("embBandPairs: widening bands over the same plane sequence only shrinks candidates") {
    import spark.implicits._
    // deterministic pseudo-random vectors (md5-derived), enough that the
    // 4x4 banding produces a non-trivial candidate set
    def vec(id: Long): Array[Float] = Array.tabulate(16) { d =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"v${id}_$d".getBytes("UTF-8"))
      (h(0).toInt / 128.0f)
    }
    val e = (0L until 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    def pairs(nBands: Int, perBand: Int): Set[(Long, Long)] =
      DedupOps.embBandPairs(e, minSim = -1.0, nBands = nBands, perBand = perBand)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p44 = pairs(4, 4)   // planes 0..15 grouped 4x4
    val p28 = pairs(2, 8)   // SAME planes grouped 2x8
    val p116 = pairs(1, 16) // SAME planes, one 16-bit signature
    // a 2x8 band match is two adjacent 4-bit matches; 1x16 is all four --
    // candidate sets must be monotone under widening (minSim = -1 keeps
    // the verify from hiding candidate-set differences)
    assert(p28.subsetOf(p44), s"2x8 ⊄ 4x4: ${p28 -- p44}")
    assert(p116.subsetOf(p28), s"1x16 ⊄ 2x8: ${p116 -- p28}")
    assert(p44.nonEmpty && p44.size > p116.size,
      s"fixture too weak: |4x4|=${p44.size}, |1x16|=${p116.size}")
  }
}
