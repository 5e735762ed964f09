package graft.graph

import org.apache.spark.graphx.Graph
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed fixtures for the iterative graph algorithms (they have no
  * SQL oracle — this spec IS their correctness pin, SURVEY §5.2 item 5).
  */
class GraphAlgsSpec extends AnyFunSuite with graft.SparkTestSession {

  private def edgeDf(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  private def rankMap(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def edgesOf(g: Graph[Unit, Unit]): DataFrame = {
    import spark.implicits._
    g.edges.map(e => (e.srcId, e.dstId)).toDF("src", "dst")
  }

  /** articleRankDF's driver-local path (the graph is under its limit). */
  private def localRanks(g: Graph[Unit, Unit], iters: Int): Map[Long, Double] =
    rankMap(GraphAlgs.articleRankDF(edgesOf(g), iters = iters))

  /** articleRankDF's distributed route (articleRankPull), forced below its driver limit. */
  private def distributedRanks(g: Graph[Unit, Unit], iters: Int): Map[Long, Double] =
    rankMap(GraphAlgs.articleRankDF(edgesOf(g), iters = iters, driverLimit = 0))

  private def assertClose(name: String, want: Map[Long, Double], got: Map[Long, Double]): Unit = {
    assert(got.keySet == want.keySet, name)
    want.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-12, s"$name node $k: ${got(k)} vs $v")
    }
  }

  private def ccMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedComponents: two components get min-id labels") {
    // component {1,2,3} (chain) and {10,11}
    val got = ccMap(GraphAlgs.connectedComponents(
      edgeDf(1L -> 2L, 2L -> 3L, 10L -> 11L), "src", "dst"))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponentsSized matches connectedComponents (elbow-sweep distributed path)") {
    // the elbow sweep's beyond-driver-cap fallback: directed pairs in
    // (GraphX CC follows both edge directions), edge-proportional
    // partitioning — labels must be the same min-member ids the driver
    // path produces
    val e = edgeDf(1L -> 2L, 2L -> 3L, 10L -> 11L, 7L -> 3L, 20L -> 20L)
    val viaSized = ccMap(GraphAlgs.connectedComponentsSized(e, "src", "dst", 5L))
    val viaEntry = ccMap(GraphAlgs.connectedComponents(e, "src", "dst"))
    assert(viaSized == viaEntry)
    assert(viaSized(7L) == 1L && viaSized(11L) == 10L && viaSized(20L) == 20L)
  }

  test("connectedComponents: forced distributed path matches the driver union-find") {
    val e = edgeDf(1L -> 2L, 2L -> 3L, 10L -> 11L, 7L -> 3L, 20L -> 20L)
    val local = ccMap(GraphAlgs.connectedComponents(e, "src", "dst"))
    val dist = ccMap(GraphAlgs.connectedComponents(e, "src", "dst", driverLimit = 0))
    assert(local == dist)
  }

  test("connectedComponents: an empty edge frame has no rows on either path") {
    val empty = edgeDf()
    assert(GraphAlgs.connectedComponents(empty, "src", "dst").isEmpty)
    assert(GraphAlgs.connectedComponents(empty, "src", "dst", driverLimit = 0).isEmpty)
  }

  test("connectedComponents: duplicate edges and self-loops agree across the two paths") {
    val e = edgeDf(1L -> 2L, 1L -> 2L, 2L -> 1L, 5L -> 5L, 5L -> 6L, 9L -> 9L, 6L -> 5L)
    val want = Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L)
    assert(ccMap(GraphAlgs.connectedComponents(e, "src", "dst")) == want)
    assert(ccMap(GraphAlgs.connectedComponents(e, "src", "dst", driverLimit = 0)) == want)
  }

  test("connectedComponents: below the driver limit the edge plan runs once") {
    import spark.implicits._
    val edges = (0L until 60L).map(i => (i, (i * 7) % 60))
    val runs = spark.sparkContext.longAccumulator("edge rows")
    // behind a shuffle, like ER's scored edges: any action re-runs the
    // whole map side, however few rows it takes
    val counted = spark.sparkContext.parallelize(edges, 3)
      .map { p => runs.add(1); p }.toDF("src", "dst").repartition(2)
    GraphAlgs.connectedComponents(counted, "src", "dst").collect()
    assert(runs.value == edges.size)
    // the accumulator does see a second run: an emptiness probe before a
    // GraphX edge probe (the shape ER's cluster had) reads every row twice
    runs.reset()
    assert(!counted.isEmpty)
    GraphAlgs.buildGraph(counted, "src", "dst").edges.take(GraphAlgs.DefaultDriverGraphLimit + 1)
    assert(runs.value >= 2L * edges.size)
  }

  test("louvain: forced distributed path is label-identical to the driver replay") {
    // the two-cliques fixture plus a dangling pendant and a self loop —
    // covers moves, contraction, the stay tie-break, and loop weighting
    val cliqueA = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val cliqueB = for (i <- 4L to 7L; j <- (i + 1) to 7L) yield (i, j)
    val pairs = cliqueA ++ cliqueB ++ Seq(3L -> 4L, 7L -> 9L, 9L -> 9L)
    val local = GraphAlgs.louvainDF(edgeDf(pairs: _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = GraphAlgs.louvainDF(edgeDf(pairs: _*), driverLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
    // and the und entry point (the g05/g06 shape: pre-symmetrized input)
    val und = edgeDf((pairs.filter(p => p._1 != p._2)
      .flatMap(p => Seq(p, p.swap)).distinct): _*)
    val localU = GraphAlgs.louvainUnd(und, maxLevels = 2, maxSweeps = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distU = GraphAlgs.louvainUnd(und, maxLevels = 2, maxSweeps = 4,
      driverLimit = 0).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(localU == distU)
  }

  test("louvain: seeded-random graphs stay label-identical across the two paths") {
    // deterministic LCG so the graphs are reproducible; shapes chosen to
    // exercise what the fixtures don't: uneven degrees, multiple
    // components, odd/even vertex-id mixes (parity classes), and enough
    // density that contraction actually fires
    var state = 0x9e3779b97f4a7c15L
    def nextInt(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (((state >>> 33) % bound + bound) % bound).toInt
    }
    (1 to 3).foreach { round =>
      val n = 20 + nextInt(15)
      val pairs = (0 until n * 3).map { _ =>
        (nextInt(n).toLong, nextInt(n).toLong)
      }.filter(p => p._1 != p._2).distinct
      val local = GraphAlgs.louvainDF(edgeDf(pairs: _*)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = GraphAlgs.louvainDF(edgeDf(pairs: _*), driverLimit = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, s"round $round: n=$n pairs=$pairs")
    }
  }

  test("articleRank: star center outranks leaves; deterministic across runs") {
    // undirected 5-node star centered at 0
    val star = edgeDf(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L)
    val g = GraphAlgs.buildGraph(star, "src", "dst", undirected = true)
    val r1 = localRanks(g, iters = 20)
    val center = r1(0L)
    val leaves = (1L to 4L).map(r1)
    assert(leaves.forall(center > _), s"center $center vs leaves $leaves")
    assert(leaves.distinct.size == 1, "leaves must be symmetric")
    val r2 = localRanks(GraphAlgs.buildGraph(star, "src", "dst", undirected = true), iters = 20)
    assert(r1 == r2, "must be bit-deterministic")
    // the forced distributed route is bit-deterministic too, and agrees
    val d1 = distributedRanks(g, iters = 20)
    assert(d1 == distributedRanks(g, iters = 20), "distributed route must be bit-deterministic")
    assertClose("star distributed", r1, d1)
  }

  test("articleRank: one hand-computed iteration on a 2-node cycle") {
    // 1 <-> 2 (directed both ways). N=2, E=2, avgDeg=1, outDeg=1 each.
    // iter1: msg to each = 1.0/(1+1)=0.5 -> rank = 0.15 + 0.85*0.5 = 0.575
    val g = GraphAlgs.buildGraph(edgeDf(1L -> 2L, 2L -> 1L), "src", "dst")
    val got = localRanks(g, iters = 1)
    assert(math.abs(got(1L) - 0.575) < 1e-12)
    assert(math.abs(got(2L) - 0.575) < 1e-12)
  }

  test("articleRankGraphX == articleRankDF to float-summation noise (incl. sinks)") {
    // star (undirected), a directed chain WITH a sink (4 has no out-edges),
    // and a denser mixed graph — the three degree regimes. The reference
    // is articleRankDF's driver-local path; its forced distributed route
    // is the third input
    val graphs = Seq(
      ("star", edgeDf(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L), true),
      ("chain+sink", edgeDf(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L), false),
      ("mixed", edgeDf(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L, 4L -> 1L,
        4L -> 2L, 5L -> 4L, 1L -> 5L), false))
    graphs.foreach { case (name, e, und) =>
      val g = GraphAlgs.buildGraph(e, "src", "dst", undirected = und)
      val viaGraphX = rankMap(GraphAlgs.articleRankGraphX(g, iters = 20))
      val viaDF = localRanks(g, iters = 20)
      assertClose(name, viaDF, viaGraphX)
      assertClose(s"$name distributed", viaDF, distributedRanks(g, iters = 20))
    }
    // and the hand-computed 2-node-cycle value holds on the GraphX path too
    val cyc = GraphAlgs.articleRankGraphX(
      GraphAlgs.buildGraph(edgeDf(1L -> 2L, 2L -> 1L), "src", "dst"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(cyc(1L) - 0.575) < 1e-12 && math.abs(cyc(2L) - 0.575) < 1e-12)
  }

  test("articleRankPull == articleRankDF; over-limit vertex set falls back, same result") {
    val graphs = Seq(
      ("star", edgeDf(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L), true),
      ("chain+sink", edgeDf(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L), false),
      ("mixed", edgeDf(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L, 4L -> 1L,
        4L -> 2L, 5L -> 4L, 1L -> 5L), false))
    graphs.foreach { case (name, e, und) =>
      val viaPull = GraphAlgs.articleRankPull(e, iters = 20, undirected = und)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val g = GraphAlgs.buildGraph(e, "src", "dst", undirected = und)
      val viaDF = localRanks(g, iters = 20)
      assertClose(name, viaDF, viaPull)
      assertClose(s"$name distributed", viaDF, distributedRanks(g, iters = 20))
      // vertexLimit below the vertex count forces the GraphX fallback;
      // values must agree to the same noise bound
      val fallback = GraphAlgs.articleRankPull(e, iters = 20, undirected = und,
        vertexLimit = 2).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(fallback.keySet == viaDF.keySet, s"$name fallback")
      viaDF.foreach { case (k, v) =>
        assert(math.abs(fallback(k) - v) < 1e-12, s"$name fallback node $k")
      }
    }
    // bit-determinism across runs (sorted CSR fixes summation order)
    val e = edgeDf(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 1L, 4L -> 1L, 4L -> 2L)
    val r1 = GraphAlgs.articleRankPull(e, iters = 20).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val r2 = GraphAlgs.articleRankPull(e, iters = 20).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r1 == r2, "must be bit-deterministic")
  }

  test("articleRankDF: driver-local path == forced distributed loop on a random multigraph") {
    import spark.implicits._
    // deterministic LCG multigraph: duplicate edges, self-loops, sinks
    // (ids 40..47 only ever appear as dst) and a source-only vertex (100)
    var state = 0x2545f4914f6cdd1dL
    def nextInt(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (((state >>> 33) % bound + bound) % bound).toInt
    }
    val base = (0 until 300).map(_ => (nextInt(40).toLong, nextInt(48).toLong))
    val pairs = base ++ base.take(30) ++ (0 until 6).map(i => (i.toLong, i.toLong)) ++
      Seq(100L -> 0L, 100L -> 0L)
    assert(pairs.distinct.size < pairs.size && pairs.exists(p => p._1 == p._2))
    val e = pairs.toDF("src", "dst")
    val local = rankMap(GraphAlgs.articleRankDF(e))
    // the distributed route (articleRankPull, multiplicities kept) and its
    // GraphX fallback (vertex guard below V) against the local path
    assertClose("pull", local, rankMap(GraphAlgs.articleRankDF(e, driverLimit = 0)))
    assertClose("graphx", local,
      rankMap(GraphAlgs.articleRankPull(e, dedupeEdges = false, vertexLimit = 2)))
    // a vertex with no in-edges gets exactly 1 - d
    val noIn = local.keySet -- pairs.map(_._2).toSet
    assert(noIn.contains(100L))
    noIn.foreach(v => assert(local(v) == 1.0 - 0.85, s"node $v"))
    // the driver-local path is bit-identical run to run
    assert(local == rankMap(GraphAlgs.articleRankDF(e)), "must be bit-deterministic")
  }

  test("articleRankDF: a null endpoint is rejected on every route") {
    import spark.implicits._
    // vertex 0 is real, so a null read as id 0 would merge into it silently
    val nullDst = Seq((0L, Option(1L)), (1L, Option(0L)), (1L, Option(2L)), (2L, None))
      .toDF("src", "dst")
    val nullSrc = Seq((Option(0L), 1L), (Option(1L), 0L), (None, 0L)).toDF("src", "dst")
    for ((e, column) <- Seq(nullDst -> "dst", nullSrc -> "src")) {
      val routes = Seq(
        ("driver-local", () => GraphAlgs.articleRankDF(e), column),
        ("forced distributed", () => GraphAlgs.articleRankDF(e, driverLimit = 0), column),
        ("pull", () => GraphAlgs.articleRankPull(e), column),
        ("graphx fallback", () => GraphAlgs.articleRankPull(e, vertexLimit = 2), column),
        // both directions are edges, so either column may hold the null
        ("pull undirected", () => GraphAlgs.articleRankPull(e, undirected = true), "src or dst"))
      for ((route, run, named) <- routes) {
        val err = intercept[IllegalArgumentException](run().collect())
        assert(err.getMessage.endsWith(s"edge column $named"), s"$route: ${err.getMessage}")
      }
    }
  }

  test("louvain: two 4-cliques joined by a bridge resolve to the two cliques") {
    // clique A {0,1,2,3}, clique B {4,5,6,7}, bridge 3-4. Modularity
    // optimum = the two cliques (hand-check: Q ≈ 0.423 vs 0.409 merged,
    // vs ~0.33 for any split of a clique).
    val cliqueA = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val cliqueB = for (i <- 4L to 7L; j <- (i + 1) to 7L) yield (i, j)
    val edges = edgeDf((cliqueA ++ cliqueB :+ (3L -> 4L)): _*)
    val got = GraphAlgs.louvainDF(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).map(got).toSet == Set(0L), got.toString) // min member id
    assert((4L to 7L).map(got).toSet == Set(4L), got.toString)
    // deterministic across runs and input row order
    val again = GraphAlgs.louvainDF(
      edgeDf(((cliqueA ++ cliqueB :+ (3L -> 4L)).reverse): _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == again)
  }

  test("louvain: all-odd vertex ids still converge (parity-termination regression)") {
    // triangle {1,3,5}: the even-parity sweep has no movable vertex, so a
    // single-zero-sweep exit would freeze everyone in singletons
    val got = GraphAlgs.louvainDF(edgeDf(1L -> 3L, 3L -> 5L, 5L -> 1L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L), got.toString) // one community, min id 1
  }

  test("louvain: weighted edges dominate community assignment") {
    import spark.implicits._
    // path 1-2-3: heavy edge 1-2 (w=10), light 2-3 (w=1) plus 3-4 (w=10):
    // optimum {1,2} and {3,4}
    val e = Seq((1L, 2L, 10.0), (2L, 3L, 1.0), (3L, 4L, 10.0))
      .toDF("src", "dst", "weight")
    val got = GraphAlgs.louvainDF(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L) && got(3L) == got(4L) && got(1L) != got(3L), got.toString)
  }

  test("louvain: integer-weighted driver replay is label-identical to the distributed loop") {
    import spark.implicits._
    // integer weights qualify for the driver-local replay (every
    // accumulated sum stays an exactly-represented integer); forcing
    // driverLimit=0 runs the distributed loop — labels must agree exactly
    val rnd = new scala.util.Random(99)
    (1 to 3).foreach { round =>
      val n = 8 + rnd.nextInt(6)
      val pairs = (0 until 2 * n).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, (rnd.nextInt(9) + 1).toDouble)
      }.distinct
      val e = pairs.toDF("src", "dst", "weight")
      val local = GraphAlgs.louvainDF(e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = GraphAlgs.louvainDF(e, driverLimit = 0).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, s"round $round: n=$n pairs=$pairs")
    }
    // fractional weights must NOT take the replay (no exactness argument):
    // the result still computes, via the distributed loop
    val frac = Seq((1L, 2L, 2.5), (2L, 3L, 0.5), (3L, 4L, 2.5))
      .toDF("src", "dst", "weight")
    val got = GraphAlgs.louvainDF(frac).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L) && got(3L) == got(4L) && got(1L) != got(3L), got.toString)
  }

  test("triangleStats: hand-counted triangles and clustering coefficients") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, every node in 3) + pendant 5 on node 4
    // + isolated edge 6-7 (no triangles)
    val proj = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L)).toDF("u", "v")
    val got = GraphQueries.triangleStats(proj).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // degree: 1,2,3 -> 3; 4 -> 4; 5,6,7 -> 1
    assert(got(1L) == ((3L, 3L, 1.0)), got.toString) // all 3 neighbour pairs closed
    assert(got(2L) == ((3L, 3L, 1.0)))
    assert(got(3L) == ((3L, 3L, 1.0)))
    // node 4: neighbours {1,2,3,5}, closed pairs = the 3 K4 ones of 6
    assert(got(4L) == ((4L, 3L, 0.5)))
    assert(got(5L) == ((1L, 0L, 0.0)))
    assert(got(6L) == ((1L, 0L, 0.0)) && got(7L) == ((1L, 0L, 0.0)))
  }

  test("triangleStats: driver replay is row-identical to the forced distributed path") {
    import spark.implicits._
    // fixture + a seeded random undirected graph (distinct u<v edges)
    val fixture = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (6L, 7L))
    val rnd = new scala.util.Random(0xD1CE)
    val random = (0 until 300).map { _ =>
      val a = rnd.nextInt(40).toLong; val b = rnd.nextInt(40).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    for (edges <- Seq(fixture, random)) {
      val proj = edges.toDF("u", "v")
      val drv = GraphQueries.triangleStats(proj).collect().map(_.toString).toSeq
      val dist = GraphQueries.triangleStats(proj, driverLimit = 0)
        .collect().map(_.toString).toSeq
      assert(drv == dist, s"path divergence on ${edges.length} edges")
    }
  }
}
