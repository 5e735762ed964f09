package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions.vecDot

/** The one IVF / IVF-PQ query form — probes from [[AnnOps.probeRowsOf]],
  * ADC through the driver-built LUT ([[AnnOps.adcScoreLut]]) — against
  * the two forms it replaced, kept here as references: the window probe
  * pick (a row_number over `vec_dot / (q_norm * c_norm)` per query) and
  * the `codes ⋈ cb ⋈ qsubs` join ADC with a per-row `vec_dot`. Covers
  * seeded and trained indexes, tombstoned vectors, exact ties, and a
  * zero-norm centroid and query (a null cosine ranks lowest; ANSI
  * raises). Every comparison is row for row, doubles bit for bit.
  */
class IvfQueryFormSpec extends AnyFunSuite with graft.SparkTestSession {
  private val dir = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ivfq-$tag").toString

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** The deleted window probe pick: each query's (vec_id < 5) `nProbes`
    * best psim, ties to the smaller c_id, under Spark's `Divide` and
    * ordering (a null psim last in DESC).
    */
  private def windowProbes(e: DataFrame, cents: DataFrame, nProbes: Int): DataFrame = {
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("psim").desc, col("c_id"))
    e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("norm").as("q_norm"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("c_id"),
        (vecDot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))).as("psim"))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nProbes)
      .select(col("q_id"), col("c_id"))
  }

  private def windowCands(e: DataFrame, cents: DataFrame, assign: DataFrame,
      nProbes: Int): DataFrame =
    broadcast(windowProbes(e, cents, nProbes))
      .join(assign, Seq("c_id"))
      .filter(col("vec_id") >= 5)
      .select(col("q_id"), col("vec_id"))

  /** The deleted join-form ADC: candidate codes ⋈ codebook ⋈ query
    * subvectors, one `vec_dot` per row, summed and rounded 6-dp.
    */
  private def joinAdc(e: DataFrame, cand: DataFrame, codes: DataFrame,
      cb: DataFrame): DataFrame = {
    val qsubs = AnnOps.subvectors(e.filter(col("vec_id") < 5))
      .select(col("vec_id").as("q_id"), col("s"), col("xs").as("qs"))
    codes.join(cand, Seq("vec_id"))
      .join(broadcast(cb), Seq("s", "j"))
      .join(broadcast(qsubs), Seq("q_id", "s"))
      .withColumn("term", vecDot(col("qs"), col("cs")))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(round(sum(col("term")), 6).as("adc"))
  }

  /** The at-rest refined query as the join form served it: window probes
    * over the persisted centroids, tombstones applied to the assignment,
    * join ADC, then the shared refine.
    */
  private def refFromIndex(d: String, loc: String, nProbes: Int = 4): DataFrame = {
    val e = AnnOps.embTable(spark, d)
    val assign = IndexStore.tablePaths(spark, loc, "deleted") match {
      case Nil => IndexStore.readTable(spark, loc, "assign")
      case ps => IndexStore.readTable(spark, loc, "assign")
        .join(spark.read.parquet(ps: _*), Seq("vec_id"), "left_anti")
    }
    val cand = windowCands(e, IndexStore.readTable(spark, loc, "centroids"), assign, nProbes)
    AnnOps.refineAdcShortlist(joinAdc(e, cand, IndexStore.readTable(spark, loc, "codes"),
      IndexStore.readTable(spark, loc, "codebooks")), e, 10, 8)
  }

  /** The deleted full-precision IVF search: window probes, corpus-side
    * query frame, exact cosine, rank.
    */
  private def refIvfSearch(e: DataFrame, cents: DataFrame, nProbes: Int): DataFrame = {
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("norm").as("q_norm"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    windowCands(e, cents, CentroidAssign.nearest(e, cents), nProbes)
      .join(e, Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        (vecDot(col("emb"), col("q_emb")) / (col("norm") * col("q_norm"))).as("sim"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("vec_id"), col("rank"), col("sim"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The deleted full-corpus PQ-ADC of pqAdcTrained: `enc ⋈ q` on the
    * subspace, one `vec_dot` per row.
    */
  private def refPqAdc(subs: DataFrame, cb: DataFrame): DataFrame = {
    val enc = AnnOps.pqEncode(subs.filter(col("vec_id") >= 5), cb)
      .select(col("vec_id"), col("s"), col("cs"))
    val q = subs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("s"), col("xs").as("qs"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("vec_id"))
    enc.join(broadcast(q), Seq("s"))
      .withColumn("term", vecDot(col("qs"), col("cs")))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(round(sum(col("term")), 6).as("adc"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("vec_id"), col("rank"), col("adc"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** A testdata-shaped dir holding only `embeddings`: `n` 64-dim gaussian
    * vectors, with `same` mapping a vec_id to the id whose vector it
    * copies (exact ties) and `zero` ids set to the zero vector.
    */
  private def synthDir(tag: String, n: Int, same: Map[Long, Long],
      zero: Set[Long]): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val base = (0L until n.toLong).map(i => i -> Seq.fill(64)(rnd.nextGaussian().toFloat)).toMap
    val d = tmp(tag)
    (0L until n.toLong).map { i =>
      (i, if (zero(i)) Seq.fill(64)(0f) else base(same.getOrElse(i, i)))
    }.toDF("vec_id", "embedding").repartition(3)
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("seeded index, live and tombstoned: LUT query == window probes + join ADC, row for row") {
    val loc = tmp("seeded")
    val e = AnnOps.embTable(spark, dir)
    IndexStore.buildIvfPq(e, loc)
    val inMem = rows(AnnOps.ivfPqKnnRefined(spark, dir))
    assert(rows(IndexStore.ivfPqRefinedFromIndex(spark, dir, loc)) == rows(refFromIndex(dir, loc)))
    assert(rows(IndexStore.ivfPqRefinedFromIndex(spark, dir, loc)) == inMem)
    // 7 is a seed: its cell keeps routing after the vector is retired
    import spark.implicits._
    IndexStore.deleteIvfPq(Seq(7L, 20L, 33L, 47L, 101L).toDF("vec_id"), loc)
    val tombed = rows(IndexStore.ivfPqRefinedFromIndex(spark, dir, loc))
    assert(tombed == rows(refFromIndex(dir, loc)))
    assert(!tombed.exists(r => Set(7L, 20L, 33L, 47L, 101L)(r.getLong(1))))
    for (np <- Seq(1, 2, 16))
      assert(rows(IndexStore.ivfPqRefinedFromIndex(spark, dir, loc, nProbes = np)) ==
        rows(refFromIndex(dir, loc, nProbes = np)), s"nProbes = $np")
    e.unpersist(blocking = false)
  }

  test("trained index, live and tombstoned: LUT query == window probes + join ADC, row for row") {
    import spark.implicits._
    val loc = tmp("trained")
    val e = AnnOps.embTable(spark, dir)
    IndexStore.buildIvfPqTrained(e, loc)
    assert(rows(IndexStore.ivfPqRefinedFromIndex(spark, dir, loc)) == rows(refFromIndex(dir, loc)))
    IndexStore.deleteIvfPq(Seq(5L, 6L, 64L, 250L).toDF("vec_id"), loc)
    assert(rows(IndexStore.ivfPqRefinedFromIndex(spark, dir, loc)) == rows(refFromIndex(dir, loc)))
    e.unpersist(blocking = false)
  }

  test("ivfKnnTrained, a03 and pqAdcTrained equal their window/join-form references") {
    val e = AnnOps.embTable(spark, dir)
    val cents = AnnOps.kmeansCentroids(e, 16, 2)
    val ref = rows(refIvfSearch(e, cents, 2))
    assert(rows(AnnOps.ivfSearch(e, AnnOps.collectSeeds(e, 5), AnnOps.collectCents(cents))) == ref)
    assert(rows(AnnOps.ivfKnnTrained(spark, dir)) == ref)
    assert(rows(AnnOps.a03.run(spark, dir)) ==
      rows(refIvfSearch(e, AnnOps.seededCents(e, 16), 2)))
    val subs = AnnOps.subvectors(graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("emb")))
    assert(rows(AnnOps.pqAdcTrained(spark, dir)) ==
      rows(refPqAdc(subs, AnnOps.pqCodebooks(subs, 16))))
    e.unpersist(blocking = false)
  }

  test("exact ties: duplicate centroids, vectors and codes rank by id on every form") {
    // 12 duplicates seed 11 (a probe and assignment tie); 40..43 share one
    // vector (identical codes, ADC and cosine); 44 copies query 2
    val d = synthDir("ties", 160,
      Map(12L -> 11L, 41L -> 40L, 42L -> 40L, 43L -> 40L, 44L -> 2L), Set.empty)
    val loc = tmp("ties-ix")
    val e = AnnOps.embTable(spark, d)
    IndexStore.buildIvfPq(e, loc)
    val ref = rows(refFromIndex(d, loc))
    assert(rows(IndexStore.ivfPqRefinedFromIndex(spark, d, loc)) == ref)
    assert(rows(AnnOps.ivfPqKnnRefined(spark, d)) == ref)
    for (np <- Seq(2, 16))
      assert(rows(IndexStore.ivfPqRefinedFromIndex(spark, d, loc, nProbes = np)) ==
        rows(refFromIndex(d, loc, nProbes = np)), s"nProbes = $np")
    assert(rows(AnnOps.a03.run(spark, d)) == rows(refIvfSearch(e, AnnOps.seededCents(e, 16), 2)))
    e.unpersist(blocking = false)
  }

  test("zero-norm centroid and query: a null cosine ranks lowest, and ANSI raises") {
    // vec 3 is a query and a seed, vec 10 a seed: both zero vectors
    val d = synthDir("zero", 160, Map.empty, Set(3L, 10L))
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val e = AnnOps.embTable(spark, d)
      val seeds = AnnOps.collectSeeds(e, 16)
      val picks = AnnOps.probeRowsOf(seeds.filter(_._1 < 5), seeds, 16)
      // the zero centroid ranks last for every query; the zero query
      // scores null everywhere, so its picks run in c_id order
      picks.groupBy(_._1).foreach { case (q, ps) =>
        if (q == 3L) assert(ps.map(_._2) == (0L until 16L) && ps.forall(_._3.isEmpty))
        else assert(ps.last._2 == 10L && ps.last._3.isEmpty, s"query $q: $ps")
      }
      val window = windowProbes(e, AnnOps.seededCents(e, 16), 4).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(AnnOps.probeRowsOf(seeds.filter(_._1 < 5), seeds, 4)
        .map(t => (t._1, t._2)).sorted == window)
      val loc = tmp("zero-ix")
      IndexStore.buildIvfPq(e, loc)
      val ref = rows(refFromIndex(d, loc))
      assert(rows(IndexStore.ivfPqRefinedFromIndex(spark, d, loc)) == ref)
      assert(rows(AnnOps.ivfPqKnnRefined(spark, d)) == ref,
        "the in-memory chain's probe pick diverged from the window form")
      spark.conf.set(key, "true")
      intercept[ArithmeticException](AnnOps.probeRowsOf(seeds.filter(_._1 < 5), seeds, 4))
      intercept[Exception](windowProbes(e, AnnOps.seededCents(e, 16), 4).collect())
      e.unpersist(blocking = false)
    } finally spark.conf.set(key, prev)
  }
}
