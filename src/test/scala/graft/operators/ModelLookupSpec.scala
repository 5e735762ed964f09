package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions.vecDot

/** The model lookups — [[CentroidAssign]] (nearest centroid by cosine)
  * and [[AnnOps.pqEncode]] (least-d2 PQ code) — against two references:
  * a Scala brute force written from the contract, and the
  * crossJoin/min_by/max_by join forms the lookups replaced. Covers large
  * models (256 centroids, 256 codes), ragged codebooks, null and NaN
  * inputs, exact ties, -0.0 vs 0.0 and empty models, and pins that the
  * lookups plan with no Exchange at any model size.
  */
class ModelLookupSpec extends AnyFunSuite with graft.SparkTestSession {
  import ModelLookupSpec._

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def embFrame(rows: Seq[(Long, Vec)]): DataFrame =
    frame(rows.map { case (id, v) => Row(id, v) }, StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("emb", ArrayType(DoubleType), nullable = true))))
      .withColumn("norm", sqrt(vecDot(col("emb"), col("emb"))))

  private def centFrame(cents: Seq[(Long, Vec, Double)]): DataFrame =
    frame(cents.map { case (id, v, n) => Row(id, v, n) }, StructType(Seq(
      StructField("c_id", LongType, nullable = false),
      StructField("c_emb", ArrayType(DoubleType), nullable = false),
      StructField("c_norm", DoubleType, nullable = false))))

  private def subsFrame(rows: Seq[(Long, Integer, Vec)]): DataFrame =
    frame(rows.map { case (id, s, v) => Row(id, s, v) }, StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("s", IntegerType, nullable = true),
      StructField("xs", ArrayType(DoubleType), nullable = true))))

  private def codeFrame(codes: Seq[(Long, Int, Vec)]): DataFrame =
    frame(codes.map { case (j, s, v) => Row(j, s, v) }, StructType(Seq(
      StructField("j", LongType, nullable = false),
      StructField("s", IntegerType, nullable = false),
      StructField("cs", ArrayType(DoubleType), nullable = false))))

  /** The replaced join form of the assignment: max_by over
    * struct(csim, -c_id) after a broadcast cross join.
    */
  private def joinNearest(e: DataFrame, cents: DataFrame): Map[Long, Long] =
    e.crossJoin(broadcast(cents))
      .withColumn("__csim",
        vecDot(col("emb"), col("c_emb")) / (col("norm") * col("c_norm")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"), struct(col("__csim"), -col("c_id"))).as("c_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The replaced join form of the encode: min_by over struct(d2, j). */
  private def joinEncode(subs: DataFrame, cb: DataFrame): Map[(Long, Int), Long] =
    subs.join(broadcast(cb), Seq("s"))
      .withColumn("d2", vecDot(col("xs"), col("xs"))
        - lit(2) * vecDot(col("xs"), col("cs")) + vecDot(col("cs"), col("cs")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(col("j"), struct(col("d2"), col("j"))).as("j"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

  private def assigned(e: DataFrame, cents: DataFrame): Map[Long, Long] =
    CentroidAssign.nearest(e, cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def encoded(subs: DataFrame, cb: DataFrame): Map[(Long, Int), (Long, Vec)] =
    AnnOps.pqEncode(subs, cb).collect().map(r =>
      (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getSeq[java.lang.Double](3))).toMap

  /** Lookup vs brute force vs join form; returns the lookup's answer. */
  private def checkAssign(rows: Seq[(Long, Vec)],
      cents: Seq[(Long, Vec, Double)]): Map[Long, Long] = {
    val e = embFrame(rows)
    val norms = e.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val want = rows.flatMap { case (id, v) =>
      refNearest(v, norms(id), cents).map(id -> _) }.toMap
    val got = assigned(e, centFrame(cents))
    assert(got == want, diff(got, want))
    assert(got == joinNearest(e, centFrame(cents)), "lookup != join form")
    got
  }

  private def checkEncode(rows: Seq[(Long, Integer, Vec)],
      codes: Seq[(Long, Int, Vec)]): Map[(Long, Int), Long] = {
    val subs = subsFrame(rows)
    val want = rows.flatMap { case (id, s, v) =>
      refCode(v, Option(s).map(_.toInt), codes).map((id, s.toInt) -> _) }.toMap
    val got = encoded(subs, codeFrame(codes))
    assert(got.map { case (k, (j, _)) => k -> j } == want,
      diff(got.map { case (k, (j, _)) => k -> j }, want))
    // the decoded centroid is the winning code's own vector
    val cs = codes.map { case (j, s, v) => (j, s) -> bits(v) }.toMap
    got.foreach { case ((_, s), (j, v)) => assert(bits(v) == cs((j, s))) }
    assert(want == joinEncode(subs, codeFrame(codes)), "brute force != join form")
    want
  }

  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllMatchIn(df.queryExecution.executedPlan.toString).size

  test("k = 256 centroids: brute force == join form == lookup, exact ties to the smallest c_id") {
    val rnd = new scala.util.Random(256)
    val base = (0 until 256).map(c => (c.toLong, gauss(rnd, 16)))
    // c_id 200 duplicates c_id 100: an exact score tie on every row
    val cents = base.map { case (c, v) =>
      val w = if (c == 200) base(100)._2 else v
      (c, w, norm(w))
    }
    val rows = (0 until 300).map(i => (i.toLong, gauss(rnd, 16))) ++
      Seq(300L -> base(100)._2)
    val got = checkAssign(rows, rnd.shuffle(cents))
    assert(got(300L) == 100L)
    assert(got.values.toSet.size > 50, "degenerate assignment")
  }

  test("assignment edges: null/NaN emb, NaN centroid, -0.0 == 0.0, empty model") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).map(i => (i.toLong, gauss(rnd, 4))) ++ Seq(
      40L -> null,                                 // null emb: every score null
      41L -> vec(1.0, null, 0.0, 0.0),             // null element: same
      42L -> vec(Double.NaN, 1.0, 0.0, 0.0),       // NaN emb: every score NaN
      43L -> vec(0.0, 0.0, 1.0, 0.0))              // scores 0.0 and -0.0 only
    // 7 and 3 are duplicates (tie -> 3); 1 has a negative norm, so it
    // scores -0.0 where the others score 0.0 (-0.0 ties 0.0 -> 1 wins)
    val cents = Seq(
      (7L, vec(1.0, 0.0, 0.0, 0.0), 1.0),
      (3L, vec(1.0, 0.0, 0.0, 0.0), 1.0),
      (1L, vec(0.0, 1.0, 0.0, 0.0), -1.0),
      (4L, vec(0.0, 0.0, 0.0, 1.0), 1.0))
    val got = checkAssign(rows, cents)
    assert(got(40L) == 1L && got(41L) == 1L && got(42L) == 1L && got(43L) == 1L)
    // a NaN centroid scores highest for every row with a real score;
    // null and all-NaN rows take the smallest c_id
    val nanModel = Seq((5L, vec(Double.NaN, 0.0, 0.0, 0.0), 1.0),
      (2L, vec(1.0, 0.0, 0.0, 0.0), 1.0))
    val gotNan = checkAssign(rows, nanModel)
    assert(gotNan(0L) == 5L && gotNan(40L) == 2L && gotNan(42L) == 2L)
    // an empty model gives no rows
    assert(checkAssign(rows, Nil).isEmpty)
  }

  test("a zero divisor follows Divide: raises under ANSI, scores null without") {
    val rows = Seq(0L -> vec(0.0, 0.0), 1L -> vec(1.0, 0.0))
    val cents = Seq((9L, vec(1.0, 0.0), 1.0), (4L, vec(0.0, 1.0), 1.0))
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      intercept[Exception](assigned(embFrame(rows), centFrame(cents)))
      intercept[Exception](joinNearest(embFrame(rows), centFrame(cents)))
      spark.conf.set(key, "false")
      // the zero row scores null everywhere: smallest c_id
      assert(checkAssign(rows, cents) == Map(0L -> 4L, 1L -> 9L))
    } finally spark.conf.set(key, prev)
  }

  test("256-code codebook: brute force == join form == lookup, exact ties to the smallest j") {
    val rnd = new scala.util.Random(8)
    val base = for (j <- 0L until 256L; s <- 0 until 8) yield (j, s, gauss(rnd, 4))
    val byKey = base.map(c => (c._1, c._2) -> c._3).toMap
    // code 200 duplicates code 17 in every subspace
    val codes = base.map { case (j, s, v) => (j, s, if (j == 200L) byKey((17L, s)) else v) }
    val rows = (for (i <- 0L until 200L; s <- 0 until 8)
      yield (i, Integer.valueOf(s), gauss(rnd, 4))) ++
      (0 until 8).map(s => (900L, Integer.valueOf(s), byKey((17L, s))))
    val got = checkEncode(rows, rnd.shuffle(codes))
    assert((0 until 8).forall(s => got((900L, s)) == 17L))
    assert(got.values.toSet.size > 100, "degenerate encode")
  }

  test("encode edges: ragged codebook, s outside it, null/NaN xs, empty codebook") {
    val rnd = new scala.util.Random(9)
    // codes 0..5 over subspaces 0..3; code 2 lacks subspace 3, and code 9
    // (NaN centroid) ranks last wherever a real d2 exists
    val codes = (for (j <- 0L until 6L; s <- 0 until 4 if !(j == 2L && s == 3))
      yield (j, s, gauss(rnd, 4))) ++ (0 until 4).map(s => (9L, s, vec(Double.NaN, 0.0, 0.0, 0.0)))
    val rows = (for (i <- 0L until 30L; s <- 0 until 4)
      yield (i, Integer.valueOf(s), gauss(rnd, 4))) ++ Seq(
      (50L, Integer.valueOf(9), gauss(rnd, 4)),    // no codes at s = 9: dropped
      (51L, null, gauss(rnd, 4)),                  // null s: dropped
      (52L, Integer.valueOf(1), null),             // null xs: null d2 ranks first
      (53L, Integer.valueOf(3), vec(1.0, null, 0.0, 0.0)),
      (54L, Integer.valueOf(2), vec(Double.NaN, 0.0, 0.0, 0.0)))
    val got = checkEncode(rows, codes)
    assert(!got.keySet.exists(k => k._1 == 50L || k._1 == 51L))
    assert(got((52L, 1)) == 0L && got((53L, 3)) == 0L && got((54L, 2)) == 0L)
    assert((0L until 30L).forall(i => got((i, 3)) != 2L))
    assert(!got.values.exists(_ == 9L))
    assert(checkEncode(rows, Nil).isEmpty)
  }

  test("k = 256: the assignment and the encode plan no Exchange") {
    val rnd = new scala.util.Random(10)
    val e = embFrame((0 until 50).map(i => (i.toLong, gauss(rnd, 8))))
    val cents = centFrame((0 until 256).map { c =>
      val v = gauss(rnd, 8); (c.toLong, v, norm(v)) })
    val subs = subsFrame(for (i <- 0L until 50L; s <- 0 until 8)
      yield (i, Integer.valueOf(s), gauss(rnd, 4)))
    val cb = codeFrame(for (j <- 0L until 256L; s <- 0 until 8) yield (j, s, gauss(rnd, 4)))
    for (df <- Seq(CentroidAssign.nearest(e, cents), AnnOps.pqEncode(subs, cb))) {
      df.collect()
      assert(exchanges(df) == 0, df.queryExecution.executedPlan.toString.take(2000))
    }
  }
}

object ModelLookupSpec {
  type Vec = Seq[java.lang.Double]

  def vec(xs: Any*): Vec = xs.map {
    case null => null
    case d: Double => java.lang.Double.valueOf(d)
  }

  def gauss(rnd: scala.util.Random, dim: Int): Vec =
    Seq.fill(dim)(java.lang.Double.valueOf(rnd.nextGaussian()))

  def norm(v: Vec): Double = math.sqrt(dot(v, v).get)

  def bits(v: Vec): Seq[Long] = v.map(d => java.lang.Double.doubleToLongBits(d))

  /** vec_dot's contract: null on a null side, a null element or unequal
    * lengths; otherwise the index-order sum.
    */
  def dot(a: Vec, b: Vec): Option[Double] =
    if (a == null || b == null || a.size != b.size || (a ++ b).contains(null)) None
    else Some(a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y })

  /** Spark's SQL double ordering, null lowest. */
  val sqlOrd: Ordering[Option[Double]] = Ordering.Option(new Ordering[Double] {
    def compare(a: Double, b: Double): Int =
      if (a == b) 0 else java.lang.Double.compare(a, b)
  })

  /** Greatest csim = dot / (norm * c_norm) (a zero divisor scores null,
    * the non-ANSI Divide), ties to the smallest c_id.
    */
  def refNearest(emb: Vec, n: Option[Double],
      cents: Seq[(Long, Vec, Double)]): Option[Long] =
    if (cents.isEmpty) None
    else Some(cents.map { case (c, v, cn) =>
      val div = n.map(_ * cn)
      val s = for (d <- dot(emb, v); q <- div if q != 0) yield d / q
      (s, c)
    }.reduce { (a, b) =>
      val cmp = sqlOrd.compare(a._1, b._1)
      if (cmp > 0 || (cmp == 0 && a._2 < b._2)) a else b
    }._2)

  /** Least d2 = (xs·xs − 2·xs·cs) + cs·cs over the codes at `s`, ties to
    * the smallest j; None when `s` has no codes.
    */
  def refCode(xs: Vec, s: Option[Int], codes: Seq[(Long, Int, Vec)]): Option[Long] = {
    val cands = codes.filter(c => s.contains(c._2))
    if (cands.isEmpty) None
    else Some(cands.map { case (j, _, cs) =>
      val d2 = for (xx <- dot(xs, xs); xc <- dot(xs, cs); cc <- dot(cs, cs))
        yield (xx - 2 * xc) + cc
      (d2, j)
    }.reduce { (a, b) =>
      val cmp = sqlOrd.compare(a._1, b._1)
      if (cmp < 0 || (cmp == 0 && a._2 < b._2)) a else b
    }._2)
  }

  def diff[K, V](got: Map[K, V], want: Map[K, V]): String = {
    val keys = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    s"${keys.size} differences, e.g. " +
      keys.take(5).map(k => s"$k: got ${got.get(k)} want ${want.get(k)}").mkString("; ")
  }
}
