package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExpressionsSpec extends AnyFunSuite with graft.SparkTestSession {

  test("jaccard_sim: matches the array_intersect/union composition") {
    import spark.implicits._
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("x"), Seq("x")),
      (Seq("x", "x", "y"), Seq("x")), // duplicates ignored (set semantics)
      (Seq("p"), Seq("q"))
    ).toDF("a", "b")
    val got = df.select(GraftFunctions.jaccardSim(col("a"), col("b"))).as[Double].collect()
    val ref = df.select(
      size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as[Double].collect()
    assert(got.toSeq == ref.toSeq)
    assert(got.toSeq == Seq(0.5, 1.0, 0.5, 0.0))
  }

  test("jaccard_sim: total on empty sets (1.0) and null-safe") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq.empty[String]), Some(Seq.empty[String])),
      (None, Some(Seq("a"))),
      (Some(Seq("a")), None)
    ).toDF("a", "b")
    val got = df.select(GraftFunctions.jaccardSim(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == 1.0)
    assert(got(1).isNullAt(0) && got(2).isNullAt(0))
  }

  test("ascii_fold: NFD + strip marks + lowercase, null-safe") {
    import spark.implicits._
    val df = Seq(Some("Crème BRÛLÉE"), Some("Ångström"), None).toDF("t")
    val got = df.select(GraftFunctions.asciiFold(col("t"))).collect()
    assert(got(0).getString(0) == "creme brulee")
    assert(got(1).getString(0) == "angstrom")
    assert(got(2).isNullAt(0))
  }

  test("extensions: functions are callable from SQL after registration") {
    GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT jaccard_sim(array('a','b'), array('b','c')) AS j,
                ascii_fold('Ünïcødé') AS f,
                shingle_arr('a b c d', 3) AS s""").collect()
    // ø has no NFD decomposition — it survives the fold (unidecode-lite)
    assert(rows(0) == Row(1.0 / 3.0, "unicøde", Seq("a b c", "b c d")))
  }

  test("vec_dot: exact aggregate(zip_with) semantics incl. null algebra") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0, 6.0))),
      (Some(Seq(0.1, 0.2, 0.3)), Some(Seq(0.7, 0.31, 0.11))),
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0))), // unequal length → null (pad poisons)
      (None, Some(Seq(1.0)))                 // array-level null → null
    ).toDF("a", "b")
    val hofExpr =
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    val got = df.select(GraftFunctions.vecDot(col("a"), col("b"))).collect()
    val hof = df.select(expr(hofExpr)).collect()
    (0 until 4).foreach { i =>
      assert(got(i).isNullAt(0) == hof(i).isNullAt(0), s"row $i nullability")
      if (!got(i).isNullAt(0))
        assert(got(i).getDouble(0) == hof(i).getDouble(0), s"row $i value")
    }
    assert(got(0).getDouble(0) == 32.0)
    assert(got(2).isNullAt(0) && got(3).isNullAt(0))
  }

  test("VecDotRewrite: HOF dot products optimize into vec_dot automatically") {
    GraftFunctions.register(spark)
    val df = spark.range(4)
      .selectExpr("array(cast(id AS double), 2D, 3D) AS a",
        "array(1D, cast(id AS double), 2D) AS b")
      .selectExpr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v) AS dot")
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("vec_dot"), opt)
    assert(!opt.toLowerCase.contains("aggregate(zip_with"), opt)
    // a·b = id*1 + 2*id + 3*2 = 3*id + 6
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(6.0, 9.0, 12.0, 15.0))
    // a non-dot fold must NOT be rewritten
    val keep = spark.range(1)
      .selectExpr("array(1D) AS a", "array(2D) AS b")
      .selectExpr(
        "aggregate(zip_with(a, b, (x, y) -> x + y), 0D, (acc, v) -> acc + v) AS s")
    assert(!keep.queryExecution.optimizedPlan.toString.contains("vec_dot"))
    assert(keep.collect().head.getDouble(0) == 3.0)
  }

  test("BandJoinRewrite: keyless |l-r|<=tol join plans as a bucketed equi-join") {
    GraftFunctions.register(spark)
    val l = spark.range(200).select(col("id").as("lid"), (col("id") * 37 % 500).as("lt"))
    val r = spark.range(200).select(col("id").as("rid"), (col("id") * 91 % 500).as("rt"))
    val j = l.join(r, abs(col("lt") - col("rt")) <= lit(5L))
    val opt = j.queryExecution.optimizedPlan.toString
    assert(opt.contains("__band_bucket"), opt)
    val phys = j.queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") && !phys.contains("CartesianProduct"), phys)
    // exact result equivalence vs the brute-force product
    val got = j.select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = (for {
      a <- 0L until 200L; b <- 0L until 200L
      if math.abs(a * 37 % 500 - b * 91 % 500) <= 5
    } yield (a, b)).toSet
    assert(got == want)
    // guard: a join that already HAS an equi key keeps its shape (rule
    // must not fan out the left side for nothing)
    val keyed = l.join(r, col("lid") === col("rid") &&
      abs(col("lt") - col("rt")) <= lit(5L))
    assert(!keyed.queryExecution.optimizedPlan.toString.contains("__band_bucket"))
  }

  test("BandJoinRewrite: equivalence on seeded random inputs incl. negatives and nulls") {
    GraftFunctions.register(spark)
    import spark.implicits._
    (0 until 6).foreach { i =>
      val rnd = new scala.util.Random(1000L + i)
      def gen(base: Long) = List.tabulate(rnd.nextInt(60))(k =>
        (base + k, if (rnd.nextInt(10) == 0) None
                   else Some((rnd.nextInt(801) - 400).toLong)))
      val ls = gen(0L); val rs = gen(10000L)
      val tol = Seq(1L, 9L, 150L)(rnd.nextInt(3))
      val j = ls.toDF("lid", "lt").join(rs.toDF("rid", "rt"),
          abs(col("lt") - col("rt")) <= lit(tol))
        .select("lid", "rid")
      assert(j.queryExecution.optimizedPlan.toString.contains("__band_bucket"),
        s"rewrite did not fire on case $i")
      val got = j.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val want = (for {
        (lid, lt) <- ls; (rid, rt) <- rs
        l <- lt; r <- rt // null times never match, as in the naive form
        if math.abs(l - r) <= tol
      } yield (lid, rid)).toSet
      assert(got == want, s"case $i tol=$tol |L|=${ls.size} |R|=${rs.size}")
    }
  }

  test("vec_dot: inside whole-stage codegen") {
    val df = spark.range(3)
      .selectExpr("array(cast(id AS double), 2D) AS a", "array(3D, cast(id AS double)) AS b")
      .select(GraftFunctions.vecDot(col("a"), col("b")).as("d"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(0.0, 5.0, 10.0))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
  }

  test("bloom_might_contain: no false negatives, prunes non-members, null-safe, codegen'd") {
    import spark.implicits._
    // build over the long keys directly (pre-hashed semantics: put/probe
    // both go through BloomFilterImpl's long path)
    val bf = spark.range(1000).toDF("k").stat.bloomFilter("k", 1000L, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val probe = ((0L until 2000L).map(Option(_)) :+ Option.empty[Long]).toDF("k")
      .select(col("k"),
        GraftFunctions.bloomMightContain(col("k"), bytes).as("m"))
    val rows = probe.collect()
    // zero false negatives: every inserted key answers true
    assert(rows.filter(r => !r.isNullAt(0) && r.getLong(0) < 1000)
      .forall(_.getBoolean(1)))
    // non-members overwhelmingly pruned (fpp target 1% over 1000 probes)
    val fps = rows.count(r => !r.isNullAt(0) && r.getLong(0) >= 1000 && r.getBoolean(1))
    assert(fps < 50, s"$fps false positives out of 1000 non-members")
    // null probe → null (null-safe binary expression)
    assert(rows.filter(_.isNullAt(0)).forall(_.isNullAt(1)))
    // and the probe stays inside whole-stage codegen: no UDF boundary
    val gen = spark.range(2000)
      .filter(GraftFunctions.bloomMightContain(col("id"), bytes))
    assert(gen.count() >= 1000)
    val plan = gen.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
  }

  test("minhash_sig: identical to the 16 MIN-aggregate signature it replaced") {
    import spark.implicits._
    // random-ish shingle sets incl. a single-element doc; the aggregate
    // form below is the exact convention the DuckDB oracles replay
    val rows = Seq(
      (1L, Seq("alpha beta gamma", "beta gamma delta", "x y z")),
      (2L, Seq("alpha beta gamma")),
      (3L, (1 to 40).map(i => s"tok$i tok${i + 1} tok${i + 2}")))
    val arr = rows.toDF("doc_id", "shArr")
    val viaExpr = arr
      .select(col("doc_id"), GraftFunctions.minhashSig(col("shArr")).as("mhs"))
      .select(col("doc_id") +: (0 until 16).map(i =>
        element_at(col("mhs"), i + 1).as(s"mh$i")): _*)
      .collect().map(r => r.getLong(0) -> (0 until 16).map(i => r.getString(i + 1)))
      .toMap
    val viaAgg = arr
      .select(col("doc_id"), explode(col("shArr")).as("sh"))
      .groupBy(col("doc_id"))
      .agg(
        min(substring(md5(concat(lit("0:"), col("sh")).cast("binary")), 1, 8)).as("m0"),
        (1 until 16).map(i =>
          min(substring(md5(concat(lit(s"${i / 4}:"), col("sh")).cast("binary")),
            1 + 8 * (i % 4), 8)).as(s"m$i")): _*)
      .collect().map(r => r.getLong(0) -> (0 until 16).map(i => r.getString(i + 1)))
      .toMap
    assert(viaExpr == viaAgg)
    // codegen'd, not a UDF
    val plan = arr.select(GraftFunctions.minhashSig(col("shArr")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("minhash_sig: null elements skipped like SQL MIN; all-null and empty arrays -> null") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq[String]("alpha beta gamma", null, "beta gamma delta")),
      (2L, Seq[String](null, null)),
      (3L, Seq.empty[String]))
    val got = rows.toDF("doc_id", "shArr")
      .select(col("doc_id"), GraftFunctions.minhashSig(col("shArr")).as("mhs"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1)))
      .toMap
    // doc 1's signature equals the signature of the non-null elements alone
    val clean = Seq((1L, Seq("alpha beta gamma", "beta gamma delta"))).toDF("doc_id", "shArr")
      .select(GraftFunctions.minhashSig(col("shArr")))
      .collect()(0).getSeq[String](0)
    assert(got(1L) == clean)
    assert(got(2L) == null && got(3L) == null)
  }

  test("codegen: expressions stay inside whole-stage codegen (no UDF node)") {
    // inputs derive from range's id so they are non-foldable — a pure
    // LocalRelation would be constant-folded into a LocalTableScan and
    // prove nothing about codegen
    val df = spark.range(2)
      .select(split(concat_ws(",", lit("a"), lit("b"), col("id")), ",").as("a"),
              split(concat_ws(",", lit("b"), col("id")), ",").as("b"))
      .select(GraftFunctions.jaccardSim(col("a"), col("b")).as("j"))
    val got = df.collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(2.0 / 3.0, 2.0 / 3.0)) // {a,b,id} vs {b,id}
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
    // the model lookups: literal models, range-derived (non-foldable) rows
    val lookups = spark.range(4)
      .select(array(col("id").cast("double"), lit(1.0)).as("v"))
      .select(
        GraftFunctions.nearestCentroid(col("v"),
          sqrt(GraftFunctions.vecDot(col("v"), col("v"))),
          Seq((1L, Seq(1.0, 0.0), 1.0), (2L, Seq(0.0, 1.0), 1.0))).as("c"),
        GraftFunctions.pqCode(col("v"), lit(0),
          Seq((8L, 0, Seq(0.0, 1.0)), (9L, 0, Seq(3.0, 1.0)))).getField("j").as("j"))
    assert(lookups.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 8L), (1L, 8L), (1L, 9L), (1L, 9L)))
    val lplan = lookups.queryExecution.executedPlan.toString
    assert(!lplan.contains("ScalaUDF") && !lplan.contains("Exchange"), lplan)
    assert(lplan.contains("WholeStageCodegen") || lplan.contains("*("), lplan)
  }

  test("nearest_centroid / pq_code: codegen and interpreted evaluation agree on edge rows") {
    import org.apache.spark.sql.types._
    val nan = Double.NaN
    // null, null-element, NaN, tie and zero-score rows; a NaN centroid, a
    // duplicate pair, a negative norm (scores -0.0); a ragged codebook
    // (code 5 lacks s = 1) with a NaN code and a duplicate pair
    val rows = Seq[Row](Row(0L, 0, Seq(1.0, 0.0)), Row(1L, 1, null),
      Row(2L, 0, Seq(1.0, null)), Row(3L, 1, Seq(nan, 0.0)),
      Row(4L, 0, Seq(0.0, 0.0)), Row(5L, 1, Seq(-2.0, 0.5)),
      Row(6L, 0, Seq(0.5, 0.5)), Row(7L, 1, Seq(0.0, 1.0)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("s", IntegerType),
        StructField("v", ArrayType(DoubleType)))))
    val cents = Seq((3L, Seq(0.0, 1.0), 1.0), (1L, Seq(0.0, 1.0), 1.0),
      (7L, Seq(1.0, 0.0), -1.0), (5L, Seq(nan, 1.0), 1.0), (2L, Seq(1.0, 1.0), 2.0))
    val codes = Seq((5L, 0, Seq(1.0, 0.0)), (4L, 0, Seq(1.0, 0.0)),
      (6L, 0, Seq(nan, nan)), (6L, 1, Seq(nan, nan)), (4L, 1, Seq(0.0, 1.0)),
      (8L, 1, Seq(-2.0, 0.5)))
    def run(factoryMode: String, wholeStage: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try df.select(col("id"),
          GraftFunctions.nearestCentroid(col("v"),
            sqrt(GraftFunctions.vecDot(col("v"), col("v"))), cents).as("c"),
          GraftFunctions.pqCode(col("v"), col("s"), codes).as("p"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getStruct(2).getLong(0), r.getStruct(2).getSeq[Double](1).toList))
        .sortBy(_._1).toSeq
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    // the zero row (id 4) raises under ANSI, like Divide; compare without
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val compiled = run("CODEGEN_ONLY", "true")
      assert(compiled == run("NO_CODEGEN", "false"))
      val (x, y) = (List(1.0, 0.0), List(0.0, 1.0))
      assert(compiled == Seq((0L, 5L, 4L, x), (1L, 1L, 4L, y), (2L, 1L, 4L, x),
        (3L, 1L, 4L, y), (4L, 1L, 4L, x), (5L, 5L, 8L, List(-2.0, 0.5)),
        (6L, 5L, 4L, x), (7L, 5L, 4L, y)), compiled)
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("shingle_arr: bit-exact differential vs the HOF formula, edges + random") {
    import spark.implicits._
    // the formula shingle_arr replaces (DedupOps' historical form): SQL
    // trim + Java split(-1) + per-window concat_ws + array_distinct. The
    // <k-token docs that the old callers filtered out map to empty arrays
    // here, so the differential guards size semantics too.
    def oldForm(k: Int) = {
      val toksC = split(trim(col("text")), graft.Tok.Ws)
      when(size(toksC) >= k, array_distinct(expr(
        s"""transform(sequence(0, size(split(trim(text), '${graft.Tok.Ws.replace("\\", "\\\\")}')) - $k),
            i -> concat_ws(' ', ${(0 until k).map(j => s"split(trim(text), '${graft.Tok.Ws.replace("\\", "\\\\")}')[i + $j]").mkString(", ")}))""")))
        .otherwise(array().cast("array<string>"))
    }
    val edge = Seq(
      "",                       // split("") = [""]: 1 token -> empty
      "   ",                    // trims to "": same
      "a b",                    // 2 tokens -> empty
      "a b c",                  // exactly one shingle
      "a  b\t\tc\nd",           // mixed separator runs
      "\ta b c\t",              // SQL trim keeps tabs: leading/trailing "" tokens
      " \ta b c\t ",            // spaces trimmed, tabs survive
      "a\u000Bb c d e",    // U+000B is CONTENT, not a separator
      "x y x y x y x y",        // duplicate shingles -> distinct, first-occurrence order
      "café naïve 😀 tok",  // multibyte + non-BMP
      "a\rb\fc d e",            // CR and FF are separators
      "  a b c"                 // leading spaces trimmed fully
    )
    val rnd = new scala.util.Random(0xD15)
    val pool = Vector("aa", "b", "", " ", "\t", "\n", "cc", "é", "😀")
    val random = (1 to 60).map(_ =>
      (1 to (1 + rnd.nextInt(20))).map(_ => pool(rnd.nextInt(pool.size))).mkString(
        if (rnd.nextBoolean()) " " else ""))
    for (k <- Seq(3, 8)) {
      val df = (edge ++ random).toDF("text")
        .select(col("text"), oldForm(k).as("old"),
          GraftFunctions.shingleArr(col("text"), k).as("nw"))
      val bad = df.filter(not(col("old") <=> col("nw"))).collect()
      assert(bad.isEmpty, s"k=$k first divergence: ${bad.take(3).mkString("; ")}")
    }
    // null text -> null (SQL semantics; callers needing admit-trivially
    // coalesce); and the compiled call stays inside codegen
    val nulls = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "text")
      .select(GraftFunctions.shingleArr(col("text"), 3).as("s")).collect()
    assert(nulls.head.isNullAt(0))
    val cg = spark.range(3)
      .select(concat_ws(" ", lit("a"), col("id"), lit("b c")).as("text"))
      .select(GraftFunctions.shingleArr(col("text"), 3).as("s"))
    assert(cg.collect().map(_.getSeq[String](0).head).toSeq ==
      Seq("a 0 b", "a 1 b", "a 2 b"))
    val plan = cg.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
  }
}
