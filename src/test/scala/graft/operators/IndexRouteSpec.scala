package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two routes of the index reading calls give the same answer, row
  * for row and doubles bit for bit: the driver route (pruned reads,
  * scored on the driver, at or under the default `driverLimit`) against
  * the distributed plan (`driverLimit = 0`), and the fallback when a
  * later bounded read overflows. Covers BM25 with tombstones, time
  * travel, an empty corpus and score ties; IVF-PQ on
  * seeded and trained builds, tombstones, zero-norm queries, centroids
  * and candidates (a null cosine, and ANSI raises on both routes) and
  * nProbes 1/2/4/16; and the driver-side epoch merge against the Spark
  * window merge it replaced, kept here as the reference.
  */
class IndexRouteSpec extends AnyFunSuite with graft.SparkTestSession {
  private val dir = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-route-$tag").toString

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def types(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq

  /** Driver route == distributed route, schema types and rows. */
  private def sameRoutes(driver: DataFrame, spark0: DataFrame, what: String): Unit = {
    assert(types(driver) == types(spark0), what)
    assert(rows(driver) == rows(spark0), what)
  }

  private def bm25(loc: String, at: Option[Long] = None, limit: Int =
      IndexStore.DefaultDriverIndexLimit): DataFrame =
    IndexStore.bm25TopKHotTermsFromIndex(spark, loc, at = at, driverLimit = limit)

  test("BM25: driver route == distributed, live, tombstoned and time-travelled") {
    import spark.implicits._
    val loc = tmp("bm25")
    val docs = graft.Tables.load(spark, dir, "documents")
    IndexStore.buildBm25(docs, loc)
    val v0 = IndexManifest.currentVersion(spark, loc)
    sameRoutes(bm25(loc), bm25(loc, limit = 0), "live")
    val live = rows(bm25(loc))
    assert(live.nonEmpty)
    IndexStore.deleteBm25(Seq(live.head.getLong(2), live(1).getLong(2), 17L, 40L)
      .toDF("doc_id"), loc)
    sameRoutes(bm25(loc), bm25(loc, limit = 0), "tombstoned")
    assert(!rows(bm25(loc)).exists(r => r.getLong(2) == live.head.getLong(2)))
    // the pre-delete snapshot, read after the delete, still serves the old answer
    sameRoutes(bm25(loc, at = Some(v0)), bm25(loc, at = Some(v0), limit = 0), "at")
    assert(rows(bm25(loc, at = Some(v0))) == live)
    // over the limit the distributed plan answers
    sameRoutes(bm25(loc, limit = 1), bm25(loc, limit = 0), "over the limit")
  }

  test("BM25: score ties rank by doc_id, and an empty corpus answers empty, on both routes") {
    import spark.implicits._
    // 1 and 3 (and 11 and 13) are the same text: equal scores on every term
    val docs = Seq((0L, "alpha beta gamma alpha"), (1L, "alpha delta"),
      (2L, "beta beta epsilon gamma"), (3L, "alpha delta"), (4L, "   "),
      (5L, "gamma gamma alpha zeta"), (11L, "delta alpha"), (13L, "delta alpha"))
      .toDF("doc_id", "text")
    val loc = tmp("bm25-ties")
    IndexStore.buildBm25(docs, loc)
    sameRoutes(bm25(loc), bm25(loc, limit = 0), "ties")
    val alpha = rows(bm25(loc)).filter(_.getString(0) == "alpha")
    assert(alpha.map(_.getLong(2)).containsSlice(Seq(1L, 3L, 11L, 13L)))
    // few hits spread over a wide id range: the postings read fits the
    // limit, the doclen range read does not, and the distributed plan answers
    val wide = (0L to 1000L).map(i => (i, if (i == 0L || i == 1000L) "hot hot" else s"w$i"))
      .toDF("doc_id", "text")
    val wideLoc = tmp("bm25-wide")
    IndexStore.buildBm25(wide, wideLoc)
    sameRoutes(bm25(wideLoc, limit = 100), bm25(wideLoc, limit = 0), "doclen range over the limit")
    sameRoutes(bm25(wideLoc), bm25(wideLoc, limit = 0), "wide")
    val empty = tmp("bm25-empty")
    IndexStore.buildBm25(docs.filter(lit(false)), empty)
    sameRoutes(bm25(empty), bm25(empty, limit = 0), "empty")
    assert(rows(bm25(empty)).isEmpty)
  }

  private def ivf(d: String, loc: String, np: Int = 4, limit: Int =
      IndexStore.DefaultDriverIndexLimit, refineFactor: Int = 8): DataFrame =
    IndexStore.ivfPqRefinedFromIndex(spark, d, loc, nProbes = np,
      refineFactor = refineFactor, driverLimit = limit)

  private def sameIvf(d: String, loc: String, what: String): Unit =
    for (np <- Seq(1, 2, 4, 16))
      sameRoutes(ivf(d, loc, np), ivf(d, loc, np, limit = 0), s"$what, nProbes = $np")

  test("IVF-PQ: driver route == distributed on seeded and trained builds, live and tombstoned") {
    import spark.implicits._
    val e = AnnOps.embTable(spark, dir)
    try {
      val seeded = tmp("seeded")
      IndexStore.buildIvfPq(e, seeded)
      sameIvf(dir, seeded, "seeded")
      // 7 is a seed: its cell keeps routing after the vector is retired
      IndexStore.deleteIvfPq(Seq(7L, 20L, 33L, 47L, 101L).toDF("vec_id"), seeded)
      sameIvf(dir, seeded, "seeded, tombstoned")
      sameRoutes(ivf(dir, seeded, limit = 3), ivf(dir, seeded, limit = 0), "over the limit")
      val trained = tmp("trained")
      IndexStore.buildIvfPqTrained(e, trained)
      sameIvf(dir, trained, "trained")
      IndexStore.deleteIvfPq(Seq(5L, 6L, 64L, 250L).toDF("vec_id"), trained)
      sameIvf(dir, trained, "trained, tombstoned")
    } finally e.unpersist(blocking = false)
  }

  /** A testdata-shaped dir holding only `embeddings`: `n` 64-dim gaussian
    * vectors, the `zero` ids set to the zero vector.
    */
  private def synthDir(tag: String, n: Int, zero: Set[Long]): String = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val d = tmp(tag)
    (0L until n.toLong).map { i =>
      val v = Seq.fill(64)(rnd.nextGaussian().toFloat)
      (i, if (zero(i)) Seq.fill(64)(0f) else v)
    }.toDF("vec_id", "embedding").repartition(3)
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  private def withAnsi[A](on: Boolean)(f: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try f finally spark.conf.set(key, prev)
  }

  test("IVF-PQ zero norms: a null cosine ranks last on both routes, and ANSI raises on both") {
    // query 3 and seed 10 are zero vectors: the zero query scores null
    // against every centroid and every candidate
    val d = synthDir("zero-q", 160, Set(3L, 10L))
    val loc = tmp("zero-q-ix")
    withAnsi(on = false) {
      val e = AnnOps.embTable(spark, d)
      IndexStore.buildIvfPq(e, loc)
      e.unpersist(blocking = false)
      sameIvf(d, loc, "zero query and centroid")
      assert(rows(ivf(d, loc)).filter(_.getLong(0) == 3L).forall(_.isNullAt(3)))
    }
    // candidate 100 is a zero vector and no seed: only its refine cosine divides by 0
    val dc = synthDir("zero-c", 160, Set(100L))
    val locC = tmp("zero-c-ix")
    withAnsi(on = false) {
      val e = AnnOps.embTable(spark, dc)
      IndexStore.buildIvfPq(e, locC)
      e.unpersist(blocking = false)
      sameRoutes(ivf(dc, locC, 16, refineFactor = 1000),
        ivf(dc, locC, 16, limit = 0, refineFactor = 1000), "zero candidate")
      val r = rows(ivf(dc, locC, 16, refineFactor = 1000))
      assert(r.filter(_.getLong(1) == 100L).forall(_.isNullAt(3)))
      // 160 probed assignment rows fit the limit, 155 · 8 code rows do not
      sameRoutes(ivf(dc, locC, 16, limit = 500), ivf(dc, locC, 16, limit = 0),
        "codes range over the limit")
    }
    withAnsi(on = true) {
      intercept[ArithmeticException](rows(ivf(d, loc)))
      intercept[ArithmeticException](rows(ivf(d, loc, limit = 0)))
      intercept[ArithmeticException](rows(ivf(dc, locC, 16, refineFactor = 1000)))
      intercept[ArithmeticException](rows(ivf(dc, locC, 16, limit = 0, refineFactor = 1000)))
    }
  }

  /** The deleted Spark merge of `EpochIndex.searchTopK`: dedup each
    * (q_id, vec_id) to its max cos, then a rank window by (cos desc,
    * vec_id).
    */
  private def windowMerge(per: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    per.groupBy(col("q_id"), col("vec_id")).agg(max(col("cos")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  test("epoch merge: the shared driver merge == the Spark window merge, duplicates and nulls included") {
    import spark.implicits._
    // vec 10 is in both epochs (one slot, its greater cos); 12/13 tie; 14
    // scores null in one epoch and 0.5 in the other; 15 is null everywhere
    val cands = Seq(
      (0L, 10L, Some(0.9)), (0L, 10L, Some(0.95)), (0L, 11L, Some(0.95)),
      (0L, 12L, Some(0.7)), (0L, 13L, Some(0.7)), (0L, 14L, None),
      (0L, 14L, Some(0.5)), (0L, 15L, None), (0L, 16L, Some(Double.NaN)),
      (1L, 20L, Some(0.1)), (1L, 21L, None), (1L, 22L, Some(-0.3)),
      (1L, 20L, Some(0.05)))
    for (k <- Seq(1, 3, 10)) {
      val got = EpochIndex.mergeTopK(cands, k).map { case ((q, v, c), r) => (q, v, r, c) }
      val want = windowMerge(cands.toDF("q_id", "vec_id", "cos"), k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
      assert(got.map(t => (t._1, t._2, t._3, t._4.map(_.toString))) ==
        want.map(t => (t._1, t._2, t._3, t._4.map(_.toString))), s"k = $k")
    }
    // end to end: an id ingested into two epochs; the reference merges
    // legs forced onto the distributed route
    val root = java.nio.file.Files.createTempDirectory("graft-route-epochs").toString
    val e = AnnOps.embTable(spark, dir)
    try {
      EpochIndex.ingest(e.filter(col("vec_id") >= 5 && pmod(col("vec_id"), lit(2)) === 0),
        root, "part")
      EpochIndex.ingest(e.filter(col("vec_id") >= 5 && col("vec_id") < 300), root, "mixed")
      for (np <- Seq(2, 16)) {
        val eps = Some(Seq("part", "mixed"))
        val legs = eps.get.map(n => IndexStore.ivfPqRefinedFromIndex(spark, dir,
          EpochIndex.epochLoc(root, n), nProbes = np, driverLimit = 0))
        val got = EpochIndex.searchTopK(spark, dir, root, nProbes = np, epochs = eps)
        val want = windowMerge(legs.reduce(_.unionByName(_)), 10)
        assert(types(got) == types(want), s"nProbes = $np")
        assert(rows(got) == rows(want), s"nProbes = $np")
      }
    } finally e.unpersist(blocking = false)
  }
}
